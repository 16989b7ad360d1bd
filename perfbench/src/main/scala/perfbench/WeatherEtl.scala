package perfbench

import org.apache.spark.sql.functions._

import graft.ops.{Cleaning, Sinks, Validate}
import graft.pipeline.Weather

/** The paper's own daily batch: each op is one full `Weather.run` (history
  * sink on) over a seeded Szeged-shaped CSV, landing parquet in its own
  * output directory. Rows are CSV rows.
  */
final class WeatherEtl(days: Int = 1000) extends Workload {
  val name = "weather_etl"
  val kinds: Seq[String] = Seq("pipeline")
  /** The first op is cold (about twice a warm one) and op times still
    * fall over the next few; with two warm-up ops a window of three ops
    * read 10% slower than one of four.
    */
  override def warmupBlocks: Int = 3
  private var info: Gen.WeatherInfo = _
  private def csv(ctx: Ctx) = s"${ctx.work}/weather.csv"
  private def out(ctx: Ctx, op: Op) = s"${ctx.work}/out/op-${op.id}"
  private val conf = Weather.Conf(writeHistory = true)

  def datagen(ctx: Ctx): Unit = info = Gen.weatherCsv(csv(ctx), ctx.seed, days)

  def inputSizes: Seq[(String, Long)] = Seq(
    "csv_rows" -> info.rows, "csv_bytes" -> info.bytes,
    "days" -> info.days.toLong, "months" -> info.months.toLong)

  def ops(seed: Long): Iterator[Op] =
    Iterator.from(0).map(i => Op(i.toLong, "pipeline", 0))

  def run(ctx: Ctx, op: Op): OpResult = {
    if (ctx.tracer.enabled) traced(ctx, op)
    else Weather.run(ctx.spark, csv(ctx), out(ctx, op), conf)
    OpResult(info.rows)
  }

  /** `Weather.run`'s body, layer by layer: every stage's plan is
    * materialised (persisted) inside its own span so its jobs are charged
    * there. The output check holds this form to the same digests as the
    * untraced one.
    */
  private def traced(ctx: Ctx, op: Op): Unit = {
    val spark = ctx.spark
    val dir = out(ctx, op)
    val held = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    def keep(df: org.apache.spark.sql.DataFrame) = { df.persist(); df.count(); held += df; df }
    try ctx.span("op") {
      val raw = ctx.span("weather.read")(keep(Weather.read(spark, csv(ctx))))
      val gated = ctx.span("ops.clean")(keep(Cleaning.rangeGateToNull(raw
        .withColumn("Formatted Date", to_date(substring(col("Formatted Date"), 1, 10)))
        .withColumn("Month", date_format(col("Formatted Date"), "yyyy-MM")), Weather.measureGates)))
      val imputed = ctx.span("ops.impute")(keep(Cleaning.medianImpute(gated, Weather.imputeCols)))
      val cleaned = ctx.span("ops.clean")(
        keep(Cleaning.dedupKeepFirstFileOrder(imputed, Seq("Formatted Date"))))
      val (d, m) = ctx.span("ops.transform")(
        (keep(Weather.daily(cleaned)), keep(Weather.monthly(cleaned))))
      val (dv, mv) = ctx.span("ops.validate")(Weather.validate(d, m))
      ctx.span("ops.sink") {
        Sinks.parquet(Sinks.renamed(dv, Weather.dailyRenames), s"$dir/daily_weather")
        Sinks.parquet(Sinks.renamed(mv, Weather.monthlyRenames), s"$dir/monthly_weather")
        Sinks.parquet(cleaned, s"$dir/weather_history")
      }
    } finally held.foreach(_.unpersist())
  }

  /** Read every op's three sinks back in one job per table, grouped by op
    * directory: row counts must equal the planted days/months, the
    * validation checks must hold on what landed, and every op's digest
    * must equal the first op's.
    */
  def check(ctx: Ctx, done: Seq[(Op, OpResult)]): Checked = {
    val spark = ctx.spark
    val ids = done.map(_._1.id)
    if (ids.isEmpty) return Checked(Set.empty)
    def perOp(table: String, checks: Seq[Validate.Check]): Map[Long, (Long, BigDecimal, Long)] = {
      val df = spark.read.parquet(ids.map(i => s"${ctx.work}/out/op-$i/$table"): _*)
      val violations = checks.map(c => when(coalesce(c.passes, lit(false)), 0L).otherwise(1L))
        .reduceOption(_ + _).getOrElse(lit(0L))
      df.withColumn("__op", regexp_extract(col("_metadata.file_path"), "/op-([0-9]+)/", 1).cast("long"))
        .groupBy("__op")
        .agg(Workload.digestCols(df).head, Workload.digestCols(df)(1), sum(violations).as("v"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)), r.getLong(3)))
        .toMap
    }
    val dailyCols = Weather.dailyRenames.values.toSeq :+ "Formatted Date"
    val daily = perOp("daily_weather", Validate.notNull(dailyCols) ++ Seq(
      Validate.inRange("Average Temperature (C)", -50, 50),
      Validate.inRange("Average Humidity", 0, 1),
      Validate.inRange("Average Wind Speed (km/h)", 0, 408)))
    val monthlyCols = Weather.monthlyRenames.values.toSeq :+ "Month"
    val monthly = perOp("monthly_weather", Validate.notNull(monthlyCols) ++ Seq(
      Validate.inRange("Average Temperature (C)", -50, 50),
      Validate.inRange("Average Humidity", 0, 1)))
    val history = perOp("weather_history", Nil)
    def sig(i: Long) = (daily.get(i), monthly.get(i), history.get(i))
    val ref = sig(ids.head)
    val bad = ids.filterNot { i =>
      val (d, m, h) = sig(i)
      d.exists(x => x._1 == info.days && x._3 == 0) &&
        m.exists(x => x._1 == info.months && x._3 == 0) &&
        h.exists(_._1 == info.days) && sig(i) == ref
    }
    Checked(bad.toSet)
  }

  /** Files and bytes one op landed (for the sink layer's counters). */
  def sinkStats(ctx: Ctx, op: Op): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out(ctx, op)))
    try {
      import scala.jdk.CollectionConverters._
      val parts = files.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
      (parts.size.toLong, parts.map(p => java.nio.file.Files.size(p)).sum)
    } finally files.close()
  }

  def csvBytes: Long = info.bytes

  override def cleanup(ctx: Ctx): Unit = Workload.rmTree(s"${ctx.work}/out")
}

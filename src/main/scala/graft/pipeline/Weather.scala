package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.ops.{Aggregates, Classify, Cleaning, Sinks, Validate}
import graft.schema.Schemas

/** Full v5-parity weather pipeline (extract→clean→transform→validate→
  * load, v5_group_project_dag.py:377). The reference's
  * per-task CSV materialization + XCom path hand-off disappears under
  * lazy evaluation (SURVEY.md §3.4): [[run]] parses the CSV once into a
  * cache, computes each output table as ONE aggregate, lets the checks
  * ride the staged writes and publishes the tables only when every check
  * held.
  *
  * Semantic pins (documented divergences are bugs we refuse to copy,
  * SURVEY.md §2.11):
  *  - date = wall-clock date of the original %z offset (pandas
  *    `.date()` keeps the parsed offset's calendar day) → substring
  *    parse, not tz-normalized to_date
  *  - gates: temps strict (−50,50); humidity [0,1]; wind [0,408];
  *    visibility ≥0; pressure [870,1083.8] (v5:79-84)
  *  - medians computed AFTER gating (v5:87-94), dedup keep-first in file
  *    order AFTER imputation (v5:97)
  *  - daily wind strength = deterministic mode of classify_wind;
  *    monthly precip = strict mode (tie → null)
  *  - exact-case sink renames (the reference's "Wind strength" vs DDL
  *    "Wind Strength" mismatch only works because SQLite is
  *    case-insensitive — we pin the DDL casing)
  *  - a CSV cell that does not parse as its column's type fails the run
  *    (pandas would have failed on the object-typed column); it is never
  *    imputed over
  */
object Weather {

  final case class Conf(
      dedupKeyFirst: Boolean = true, // v5 parity; false = v1 semantics
      writeHistory: Boolean = false) // v2 also lands the full cleaned table

  val measureGates: Map[String, Cleaning.Bounds] = Map(
    "Temperature (C)" -> Cleaning.Bounds.open(-50, 50),
    "Apparent Temperature (C)" -> Cleaning.Bounds.open(-50, 50),
    "Humidity" -> Cleaning.Bounds.closed(0, 1),
    "Wind Speed (km/h)" -> Cleaning.Bounds.closed(0, 408),
    "Visibility (km)" -> Cleaning.Bounds.atLeast(0),
    "Pressure (millibars)" -> Cleaning.Bounds.closed(870, 1083.8))

  val imputeCols: Seq[String] = Seq(
    "Temperature (C)", "Apparent Temperature (C)", "Humidity", "Wind Speed (km/h)",
    "Wind Bearing (degrees)", "Visibility (km)", "Loud Cover", "Pressure (millibars)")

  def read(spark: SparkSession, csvPath: String): DataFrame =
    spark.read.option("header", "true").schema(Schemas.weatherCsv).csv(csvPath)

  /** [[run]]'s extra CSV column: the raw line of every row with a cell
    * that did not parse as its column's type (that cell reads NULL).
    */
  private val Malformed = "_malformed_line"

  /** Flag of the rows the dedup keeps: the median pass needs every row,
    * the tables only the kept ones.
    */
  private val Keep = "_keep"

  /** Parse date + month, gate ranges to null, flag the keep-first rows.
    * Imputation never touches the date key, so flagging before it keeps
    * the rows v5's impute-then-dedup keeps.
    */
  private def gateAndFlag(raw: DataFrame, conf: Conf): DataFrame = {
    val gated = Cleaning.rangeGateToNull(raw
      .withColumn("Formatted Date", to_date(substring(col("Formatted Date"), 1, 10)))
      .withColumn("Month", date_format(col("Formatted Date"), "yyyy-MM")), measureGates)
    if (conf.dedupKeyFirst) Cleaning.flagFirstInFileOrder(gated, Seq("Formatted Date"), Keep)
    else gated.withColumn(Keep, lit(true))
  }

  /** Median pass over every row (eager), then the kept rows. */
  private def imputeAndDedup(flagged: DataFrame): DataFrame =
    Cleaning.medianImpute(flagged, imputeCols).filter(col(Keep)).drop(Keep, Malformed)

  /** clean_data (v5:68-101): parse date + month, gate ranges to null,
    * median-impute, dedup by date keeping first file-order row.
    */
  def clean(df: DataFrame, conf: Conf = Conf()): DataFrame = imputeAndDedup(gateAndFlag(df, conf))

  private def means(measures: Seq[(String, String)]): Seq[Column] =
    measures.map { case (src, out) => avg(col(src)).as(out) }

  private val dailyMeans = Seq(
    "Temperature (C)" -> "daily_avg_temperature",
    "Apparent Temperature (C)" -> "daily_avg_apparent_temperature",
    "Humidity" -> "daily_avg_humidity",
    "Wind Speed (km/h)" -> "daily_avg_wind_speed",
    "Visibility (km)" -> "daily_avg_visibility",
    "Pressure (millibars)" -> "daily_avg_pressure")

  private val monthlyMeans = Seq(
    "Temperature (C)" -> "monthly_avg_temperature",
    "Apparent Temperature (C)" -> "monthly_avg_apparent_temperature",
    "Humidity" -> "monthly_avg_humidity",
    "Visibility (km)" -> "monthly_avg_visibility",
    "Pressure (millibars)" -> "monthly_avg_pressure")

  private val modeStrict = udaf(Aggregates.modeStrictAgg, Encoders.STRING)

  /** transform_data daily half (v5:158-222): per-day means + per-day
    * deterministic mode of wind strength (built-in `mode` with
    * deterministic ties → the lowest value, pandas `mode()[0]`), as one
    * aggregate. One row per day, so the sort runs in a single partition
    * instead of a range-sampled global `orderBy`.
    */
  def daily(cleaned: DataFrame): DataFrame = {
    val aggs = means(dailyMeans) :+
      mode(Classify.classifyWind(col("Wind Speed (km/h)")), deterministic = true).as("wind_strength")
    cleaned.groupBy("Formatted Date").agg(aggs.head, aggs.tail: _*)
      .coalesce(1).sortWithinPartitions("Formatted Date")
  }

  /** transform_data monthly half: per-month means + strict precip mode
    * (the typed strict-mode aggregator, tie → null) as one aggregate.
    */
  def monthly(cleaned: DataFrame): DataFrame = {
    val aggs = means(monthlyMeans) :+ modeStrict(col("Precip Type")).as("mode_precipitation_type")
    cleaned.groupBy("Month").agg(aggs.head, aggs.tail: _*)
      .coalesce(1).sortWithinPartitions("Month")
  }

  /** validate_data (v5:236-278): the reference's 2 null checks + 5 range
    * checks, over every output column.
    */
  private val dailyChecks: Seq[Validate.Check] =
    Validate.notNull("Formatted Date" +: dailyMeans.map(_._2) :+ "wind_strength") ++ Seq(
      Validate.inRange("daily_avg_temperature", -50, 50),
      Validate.inRange("daily_avg_humidity", 0, 1),
      Validate.inRange("daily_avg_wind_speed", 0, 408))

  private val monthlyChecks: Seq[Validate.Check] =
    Validate.notNull("Month" +: monthlyMeans.map(_._2) :+ "mode_precipitation_type") ++ Seq(
      Validate.inRange("monthly_avg_temperature", -50, 50),
      Validate.inRange("monthly_avg_humidity", 0, 1))

  /** The checks as eager gates, one aggregate pass per frame; throws
    * ValidationException before any sink write (≡ trigger_rule=all_success).
    * [[run]] runs the same checks on its staged writes instead.
    */
  def validate(dailyDf: DataFrame, monthlyDf: DataFrame): (DataFrame, DataFrame) =
    (Validate.gate(dailyDf, dailyChecks), Validate.gate(monthlyDf, monthlyChecks))

  /** load_data rename maps (v5:336-356), pinned to the DDL casing. */
  val dailyRenames: Map[String, String] = Map(
    "daily_avg_temperature" -> "Average Temperature (C)",
    "daily_avg_apparent_temperature" -> "Average Apparent Temperature (C)",
    "daily_avg_humidity" -> "Average Humidity",
    "daily_avg_wind_speed" -> "Average Wind Speed (km/h)",
    "daily_avg_visibility" -> "Average Visibility (km)",
    "daily_avg_pressure" -> "Average Pressure (millibars)",
    "wind_strength" -> "Wind Strength")

  val monthlyRenames: Map[String, String] = Map(
    "monthly_avg_temperature" -> "Average Temperature (C)",
    "monthly_avg_apparent_temperature" -> "Average Apparent Temperature (C)",
    "monthly_avg_humidity" -> "Average Humidity",
    "monthly_avg_visibility" -> "Average Visibility",
    "monthly_avg_pressure" -> "Average Pressure",
    "mode_precipitation_type" -> "Mode Precipitation Type")

  /** End-to-end run: csv → cleaned → (daily, monthly) → sink as parquet
    * tables under outDir, all or nothing (the S5 JDBC sink is
    * config-gated; Sinks.jdbc takes the same renamed frames).
    *
    * The CSV is parsed once: the gated, dedup-flagged frame is cached by
    * the median pass, which also counts malformed rows and fails the run
    * on any. The tables are written to a staging directory with the
    * checks observed on the writes, and published by rename only when
    * every check held; otherwise ValidationException and nothing changes.
    */
  def run(spark: SparkSession, csvPath: String, outDir: String, conf: Conf = Conf()): (DataFrame, DataFrame) = {
    val raw = spark.read.option("header", "true").option("columnNameOfCorruptRecord", Malformed)
      .schema(Schemas.weatherCsv.add(Malformed, StringType)).csv(csvPath)
    val malformed = Observation("weather_malformed_rows")
    val gated = gateAndFlag(raw, conf).observe(malformed, count(col(Malformed)).as("n")).persist()
    try {
      val cleaned = imputeAndDedup(gated)
      val badRows = malformed.get("n").asInstanceOf[Long]
      if (badRows > 0)
        throw new Validate.ValidationException(Seq(Validate.CheckResult(s"well_formed($csvPath)", badRows)))
      val (d, dFailed) = Validate.observed(daily(cleaned), dailyChecks, "weather_daily_checks")
      val (m, mFailed) = Validate.observed(monthly(cleaned), monthlyChecks, "weather_monthly_checks")
      val dOut = Sinks.renamed(d, dailyRenames)
      val mOut = Sinks.renamed(m, monthlyRenames)
      // v2 parity (v2_group_project_dag.py:281-298,333): full-history table
      val history = if (conf.writeHistory) Seq("weather_history" -> cleaned) else Nil
      Sinks.publishParquet(outDir, Seq("daily_weather" -> dOut, "monthly_weather" -> mOut) ++ history) { () =>
        val failed = dFailed() ++ mFailed()
        if (failed.nonEmpty) throw new Validate.ValidationException(failed)
      }
      (dOut, mOut)
    } finally gated.unpersist()
  }
}

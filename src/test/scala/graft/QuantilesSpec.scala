package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Quantiles

/** Quantiles.exactNtile must be ROW-IDENTICAL to Spark's own global-window
  * ntile (the thing it replaces in q134/q172/q222/q236) — asserted against
  * the battery's real fixture columns, both directions, with value ties,
  * degenerate bucket/cell counts, and N < n.
  */
class QuantilesSpec extends SparkSuite {

  /** Fixture relation with a GENUINELY unique key: the raw fixture's
    * (l_orderkey, l_linenumber) has duplicates ("TPC-H-ish"), and a
    * row-identical comparison needs a total order — aggregate first.
    * l_quantity sums still carry heavy ties (small-integer domain).
    */
  private def li: DataFrame =
    Tables.load(spark, sf0001, "lineitem")
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(sum(col("l_quantity")).as("l_quantity"),
        max(col("l_extendedprice")).as("l_extendedprice"))

  /** Reference: the exact single-partition ntile being replaced. */
  private def refNtile(df: DataFrame, n: Int, asc: Boolean): DataFrame = {
    val ord =
      (if (asc) col("l_quantity").asc else col("l_quantity").desc) +:
        Seq(col("l_orderkey").asc, col("l_linenumber").asc)
    df.withColumn("bucket", ntile(n).over(Window.orderBy(ord: _*)).cast("bigint"))
  }

  private def check(n: Int, asc: Boolean, cells: Int): Unit = {
    val got = withCells(cells)(Quantiles.exactNtile(
      li, n, col("l_quantity"), asc,
      Seq(col("l_orderkey"), col("l_linenumber")), "bucket"))
    val want = refNtile(li, n, asc)
    val key = Seq("l_orderkey", "l_linenumber").map(col)
    assert(got.join(want.select((key :+ col("bucket").as("want")): _*),
      Seq("l_orderkey", "l_linenumber"))
      .filter(col("bucket") =!= col("want")).count() === 0L,
      s"n=$n asc=$asc cells=$cells diverged from window ntile")
    assert(got.count() === want.count())
  }

  test("exactNtile ≡ window ntile: asc, heavy value ties (l_quantity is 1..50)") {
    check(n = 8, asc = true, cells = 7)
  }

  test("exactNtile ≡ window ntile: desc") {
    check(n = 5, asc = false, cells = 13)
  }

  test("exactNtile ≡ window ntile: n does not divide N, single coarse cell") {
    check(n = 7, asc = true, cells = 1)
  }

  test("exactNtile ≡ window ntile: more cells than distinct values") {
    // l_quantity has ≤50 distinct values; 200 requested cells dedupe to
    // fewer boundaries and must stay consistent between the count pass
    // and the rank pass
    check(n = 10, asc = true, cells = 200)
  }

  test("N < n assigns one row per bucket (SQL ntile rule)") {
    val tiny = li.limit(3)
    val got = withCells(4)(Quantiles.exactNtile(
      tiny, 10, col("l_quantity"), true,
      Seq(col("l_orderkey"), col("l_linenumber")), "bucket"))
    assert(got.select("bucket").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("exactNtile ≡ window ntile on randomized inputs (negatives, constants, extreme magnitudes)") {
    // pinned-seed randomized sweep: the fixture checks above are all
    // positive small-integer values — this drives the direction
    // negation (ascending=false negates the coarse key), sign mixes,
    // all-equal relations (every row in one coarse cell), and values
    // whose double magnitude stresses the approxQuantile boundaries
    import spark.implicits._
    for (seed <- Seq(1L, 7L, 42L)) {
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(12)
      val cells = 1 + rnd.nextInt(40)
      val rows = (0 until 500 + rnd.nextInt(1500)).map { i =>
        val v = rnd.nextInt(5) match {
          case 0 => rnd.nextInt(20) - 10 // heavy ties, signs mixed
          case 1 => 0 // constant runs
          case 2 => rnd.nextInt(Int.MaxValue) - (Int.MaxValue / 2)
          case 3 => -1000000 + rnd.nextInt(3)
          case _ => rnd.nextInt(100)
        }
        (i.toLong, v.toLong)
      }
      val df = rows.toDF("id", "v").repartition(7)
      val asc = rnd.nextBoolean()
      val got = withCells(cells)(
        Quantiles.exactNtile(df, n, col("v"), asc, Seq(col("id")), "bucket"))
      val ord = (if (asc) col("v").asc else col("v").desc) +: Seq(col("id").asc)
      val want = df.withColumn("want",
        ntile(n).over(Window.orderBy(ord: _*)).cast("bigint"))
      val bad = got.join(want.select(col("id"), col("want")), "id")
        .filter(col("bucket") =!= col("want")).count()
      assert(bad == 0L, s"seed=$seed n=$n cells=$cells asc=$asc: $bad rows diverged")
    }
  }

  test("exactNtile ≡ window ntile with NaN sort keys (NaN sorts greatest), one cell and several") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0 until 700).map { i =>
      (i.toLong, if (i % 9 == 0) Double.NaN else (rnd.nextInt(400) - 200).toDouble)
    }
    val df = rows.toDF("id", "v").repartition(5)
    for (asc <- Seq(true, false); cells <- Seq(1, 12)) {
      val got = withCells(cells)(
        Quantiles.exactNtile(df, 6, col("v"), asc, Seq(col("id")), "bucket"))
      val ord = (if (asc) col("v").asc else col("v").desc) +: Seq(col("id").asc)
      val want = df.withColumn("want", ntile(6).over(Window.orderBy(ord: _*)).cast("bigint"))
      val bad = got.join(want.select(col("id"), col("want")), "id")
        .filter(col("bucket") =!= col("want")).count()
      assert(bad == 0L, s"asc=$asc cells=$cells: $bad rows diverged")
    }
  }

  test("plan has NO single-partition window (the hazard it exists to remove)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val df = withCells(16)(Quantiles.exactNtile(
      li, 8, col("l_quantity"), true,
      Seq(col("l_orderkey"), col("l_linenumber")), "bucket"))
    df.collect()
    val globals = planNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globals.isEmpty, s"exactNtile leaked a global window:\n$globals")
  }
}

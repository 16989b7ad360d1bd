package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Quantiles.exactPercentileValues must be BIT-IDENTICAL to Spark's exact
  * `percentile`/`median` aggregate — it replaces them in q10/q266, whose
  * outputs sit under the driver's hash gate, so "close" is a regression.
  * Inputs are magnitude-adversarial (1e-13 .. 1e17, negatives, heavy
  * ties, even/odd counts, sizes that land integral and fractional
  * interpolation positions); the fixture column check runs the real
  * lineitem relation the swapped queries read.
  */
class PercentileParitySpec extends SparkSuite {

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def check(vals: Seq[Double], probs: Seq[Double], cells: Int): Unit = {
    import spark.implicits._
    val df = vals.toDF("v")
    val row = df.agg(expr(s"percentile(v, array(${probs.mkString(",")}))")).head()
    // the aggregate's NULL (empty input) is None per prob
    val want = if (row.isNullAt(0)) probs.map(_ => None) else row.getSeq[Double](0).map(Some(_))
    val got = withCells(cells)(Quantiles.exactPercentileValues(df, col("v"), probs))
    assert(got.size == probs.size)
    want.zip(got).zipWithIndex.foreach { case ((w, g), i) =>
      assert(w.map(bits) == g.map(bits),
        s"prob ${probs(i)}: percentile=$w exactPercentileValues=$g (cells=$cells, n=${vals.size})")
    }
  }

  private val probs = Seq(0.0, 0.05, 1.0 / 3.0, 0.5, 0.95, 0.99, 1.0)

  test("bit-parity with percentile() on adversarial inputs") {
    val rnd = new scala.util.Random(7)
    val datasets = Seq(
      (1 to 7).map(_ => rnd.nextDouble() * 1e9),
      (1 to 10).map(_ => rnd.nextDouble() * 1e-7),
      Seq(1.0, 1e17, -3.7, 2.5e-13, 99.0, 7.0),
      (1 to 101).map(_ => rnd.nextGaussian() * 1e6),
      (1 to 1000).map(_ => rnd.nextDouble() * 2e4 - 1e4),
      // heavy ties: small-integer domain (one hot value can span cells'
      // boundary ranks — equal values must interpolate to themselves)
      (1 to 500).map(_ => rnd.nextInt(5).toDouble),
      Seq(42.0),
      Seq(1.0, 2.0),
      // NaN sorts greatest in the aggregate: mixed with finite values
      // (ranks straddling the NaN run) and alone
      (1 to 300).map(i => if (i % 7 == 0) Double.NaN else rnd.nextGaussian() * 1e3),
      Seq(Double.NaN, 1.0, Double.NaN, -2.0),
      Seq.fill(5)(Double.NaN),
      // empty input: the aggregate's NULL
      Seq.empty[Double])
    for (ds <- datasets; cells <- Seq(1, 4, 64)) check(ds, probs, cells)
  }

  test("nulls are skipped exactly like the aggregate skips them") {
    import spark.implicits._
    val df = Seq[java.lang.Double](1.0, null, 3.0, null, 2.0, 100.0).toDF("v")
    val want = df.agg(expr("percentile(v, 0.5)")).head().getDouble(0)
    val got = withCells(4)(Quantiles.exactPercentileValues(df, col("v"), Seq(0.5))).head
    assert(got.map(bits) == Some(bits(want)))
    val allNull = Seq[java.lang.Double](null, null).toDF("v")
    assert(Quantiles.exactPercentileValues(allNull, col("v"), Seq(0.5, 0.9)) == Seq(None, None))
  }

  test("per-key parity with the grouped percentile aggregate (q137/q94 shape)") {
    val li = graft.Tables.load(spark, sf0001, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("x"))
    val want = li.groupBy("flag")
      .agg(expr("percentile(x, array(0.5, 0.95, 0.99))").as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val n = li.count()
    for (cells <- Seq(1, 16)) {
      val got = withCells(cells)(Quantiles.exactPercentilesByKey(
          li, Seq("flag"), col("x"), Seq(0.5, 0.95, 0.99), Seq("p50", "p95", "p99")))
        .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toMap
      assert(want.keySet == got.keySet)
      for (k <- want.keySet; (w, g) <- want(k).zip(got(k)))
        assert(bits(w) == bits(g), s"cells=$cells key $k: $w vs $g")
    }
  }

  test("parity on the real fixture column q10/q266 read") {
    val g = graft.Tables.load(spark, sf0001, "lineitem")
      .select(when(col("l_extendedprice").between(1000, 50000),
        col("l_extendedprice")).as("v"))
    val want = g.agg(expr("percentile(v, array(0.5, 0.95))")).head().getSeq[Double](0)
    val n = g.count()
    for (cells <- Seq(1, 16)) {
      val got = withCells(cells)(Quantiles.exactPercentileValues(g, col("v"), Seq(0.5, 0.95)))
      assert(got.map(_.map(bits)) == want.map(w => Some(bits(w))), s"cells=$cells")
    }
  }

  test("per-key parity with a NULL key group, at one cell and at several") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 600).map { i =>
      val k = rnd.nextInt(4) match { case 0 => null; case j => s"k$j" }
      val v = if (i % 50 == 0) null else java.lang.Double.valueOf(rnd.nextGaussian() * 1e4)
      (k, v)
    }
    val df = rows.toDF("k", "v")
    val ps = Seq(0.0, 0.5, 0.99)
    val want = df.groupBy("k").agg(expr(s"percentile(v, array(${ps.mkString(",")}))"))
      .collect().map(r => Option(r.getString(0)) -> r.getSeq[Double](1).map(bits)).toMap
    assert(want.contains(None))
    for (cells <- Seq(1, 8)) {
      val got = withCells(cells)(Quantiles.exactPercentilesByKey(
          df, Seq("k"), col("v"), ps, Seq("p0", "p50", "p99")))
        .collect().map(r => Option(r.getString(0)) -> (1 to 3).map(i => bits(r.getDouble(i))))
        .toMap
      assert(got == want, s"cells=$cells")
    }
  }

  test("empty input: NULL per prob, an empty per-key relation, and a q10-shaped gate that drops every row") {
    val empty = graft.Tables.load(spark, sf0001, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice")).filter(lit(false))
    assert(Quantiles.exactPercentileValues(empty, col("l_extendedprice"), Seq(0.5)) == Seq(None))
    val byKey = Quantiles.exactPercentilesByKey(
      empty, Seq("l_returnflag"), col("l_extendedprice"), Seq(0.5), Seq("p50"))
    assert(byKey.count() == 0L && byKey.columns.toSeq == Seq("l_returnflag", "p50"))
    // q10's shape with a gate no price passes: median() is NULL, so every
    // imputed price stays NULL
    val g = graft.Tables.load(spark, sf0001, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      graft.ops.Cleaning.gateToNull(col("l_extendedprice"),
        graft.ops.Cleaning.Bounds.closed(-2, -1)).as("price_gated"))
    val med = Quantiles.exactPercentileValues(g, col("price_gated"), Seq(0.5)).head
    def imputed(m: org.apache.spark.sql.Column) =
      g.select(col("l_orderkey"), col("l_linenumber"),
        coalesce(col("price_gated"), m).as("price_imputed"))
    val got = imputed(typedLit(med))
    val want = imputed(g.agg(expr("median(price_gated)")).head().get(0) match {
      case null => lit(null).cast("double")
      case d => lit(d)
    })
    assert(got.schema == want.schema)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.filter(col("price_imputed").isNotNull).isEmpty && !got.isEmpty)
  }

  test("the cell count follows the row count: clamp(⌈N / 2^20⌉, 64, 4096)") {
    assert(CellLayout.cellCount(0L) == 64)
    assert(CellLayout.cellCount(60000L) == 64)
    assert(CellLayout.cellCount(64L << 20) == 64)
    assert(CellLayout.cellCount((64L << 20) + 1) == 65)
    assert(CellLayout.cellCount(1000L << 20) == 1000)
    assert(CellLayout.cellCount(1L << 40) == 4096)
  }

  test("job budget: one exactPercentileValues call on 60k rows runs at most 7 Spark jobs") {
    val df = spark.range(60000).select(((col("id") * 7919L) % 60001L).cast("double").as("v"))
    val (got, jobs) = jobsIn(Quantiles.exactPercentileValues(df, col("v"), Seq(0.5)))
    assert(got.map(_.map(bits)) ==
      Seq(Some(bits(df.agg(expr("median(v)")).head().getDouble(0)))))
    assert(jobs > 0 && jobs <= 7, s"$jobs jobs")
  }
}

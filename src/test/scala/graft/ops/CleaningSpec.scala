package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

class CleaningSpec extends SparkSuite {
  import spark.implicits._

  test("gateToNull preserves open vs closed bounds exactly") {
    val df = Seq(-50.0, -49.999, 0.0, 49.999, 50.0).toDF("x")
    val open = df.select(Cleaning.gateToNull($"x", Cleaning.Bounds.open(-50, 50)).as("g"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(open.toSeq == Seq(None, Some(-49.999), Some(0.0), Some(49.999), None))
    val closed = df.select(Cleaning.gateToNull($"x", Cleaning.Bounds.closed(-50, 50)).as("g"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(closed.toSeq == Seq(Some(-50.0), Some(-49.999), Some(0.0), Some(49.999), Some(50.0)))
  }

  test("gateToNull keeps NULL input NULL (never resurrects)") {
    val df = Seq(Some(1.0), None).toDF("x")
    val out = df.select(Cleaning.gateToNull($"x", Cleaning.Bounds.closed(0, 10)).as("g"))
      .collect()
    assert(!out(0).isNullAt(0) && out(1).isNullAt(0))
  }

  test("medianImpute: pandas-style interpolating median, computed post-gate") {
    // in-range values {1, 2, 3, 100}: median = 2.5 (midpoint interpolation)
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), Some(100.0), None).toDF("x")
    val out = Cleaning.medianImpute(df, Seq("x")).collect().map(_.getDouble(0)).sorted
    assert(out.toSeq == Seq(1.0, 2.0, 2.5, 3.0, 100.0))
  }

  test("medianImpute on all-null column is a no-op") {
    val df = Seq[Option[Double]](None, None).toDF("x")
    assert(Cleaning.medianImpute(df, Seq("x")).filter($"x".isNull).count() == 2)
  }

  test("dropNullRows implements v1's INTENDED dropna (the original is a no-op bug)") {
    val df = Seq((Some(1.0), "a"), (None, "b")).toDF("x", "s")
    assert(Cleaning.dropNullRows(df, Seq("x")).collect().map(_.getString(1)).toSeq == Seq("a"))
  }

  test("seasonalGateToNull applies summer vs winter bounds by month (v2 intent)") {
    val df = Seq(
      ("2020-07-15", 30.0), // summer, in (5,50) → kept
      ("2020-07-15", 2.0), // summer, below 5 → null
      ("2020-12-15", 2.0), // winter, in (-50,20) → kept
      ("2020-12-15", 30.0) // winter, above 20 → null
    ).toDF("d", "t").withColumn("d", to_date($"d"))
    val out = Cleaning.seasonalGateToNull(
      df, "d", "t", 4 to 9,
      Cleaning.Bounds.open(5, 50), Cleaning.Bounds.open(-50, 20))
      .collect().map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    assert(out.toSeq == Seq(Some(30.0), None, Some(2.0), None))
  }

  test("dedupKeepFirst keeps the first row under the explicit order") {
    val df = Seq(("a", 2, "second"), ("a", 1, "first"), ("b", 5, "only"))
      .toDF("k", "ord", "tag")
    val out = Cleaning.dedupKeepFirst(df, Seq("k"), Seq(col("ord").asc))
      .orderBy("k").collect().map(_.getString(2))
    assert(out.toSeq == Seq("first", "only"))
  }

  test("flagFirstInFileOrder flags the first row per key in file order; the dedup keeps those") {
    val df = Seq(("a", "first"), ("b", "only"), ("a", "second"), ("a", "third"))
      .toDF("k", "tag").coalesce(1)
    val flagged = Cleaning.flagFirstInFileOrder(df, Seq("k"), "keep")
    assert(flagged.columns.toSeq == Seq("k", "tag", "keep"))
    assert(flagged.collect().map(r => r.getString(1) -> r.getBoolean(2)).toMap ==
      Map("first" -> true, "only" -> true, "second" -> false, "third" -> false))
    assert(Cleaning.dedupKeepFirstFileOrder(df, Seq("k")).orderBy("k").collect()
      .map(_.getString(1)).toSeq == Seq("first", "only"))
  }
}

package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

class AggregatesSpec extends SparkSuite {
  import spark.implicits._

  private val df = Seq(
    ("g1", "b"), ("g1", "b"), ("g1", "a"), // clear mode b
    ("g2", "b"), ("g2", "a"), // tie a/b
    ("g3", null.asInstanceOf[String]), ("g3", "z") // nulls skipped
  ).toDF("k", "v")

  test("modeDeterministic: ties break to the smallest value (pandas mode()[0])") {
    val m = Aggregates.modeDeterministic(df, Seq("k"), "v", "m")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("g1" -> "b", "g2" -> "a", "g3" -> "z"))
  }

  test("modeStrict: any tie → null (get_precip_mode_or_nan)") {
    val m = Aggregates.modeStrict(df, Seq("k"), "v", "m")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(m == Map("g1" -> Some("b"), "g2" -> None, "g3" -> Some("z")))
  }

  test("all-null group is absent (pandas value_counts drops NaN)") {
    val allNull = Seq(("g", null.asInstanceOf[String])).toDF("k", "v")
    assert(Aggregates.modeDeterministic(allNull, Seq("k"), "v", "m").count() == 0)
    // the one-aggregate forms keep the group, with a NULL mode
    val agg = allNull.groupBy("k")
      .agg(mode($"v", deterministic = true), udaf(Aggregates.modeStrictAgg, Encoders.STRING)($"v"))
      .collect()
    assert(agg.length == 1 && agg(0).isNullAt(1) && agg(0).isNullAt(2))
  }

  test("built-in deterministic mode equals modeDeterministic (ties → smallest, NULLs skipped)") {
    val det = df.groupBy("k").agg(mode($"v", deterministic = true))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(det == Aggregates.modeDeterministic(df, Seq("k"), "v", "m")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
  }

  test("typed Aggregator UDAF twins agree with the relational plans") {
    Aggregates.registerUdafs(spark)
    df.createOrReplaceTempView("t")
    val strictUdaf = spark.sql("SELECT k, mode_strict(v) AS m FROM t GROUP BY k")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(strictUdaf == Map("g1" -> Some("b"), "g2" -> None, "g3" -> Some("z")))
    val detUdaf = spark.sql("SELECT k, mode_det(v) AS m FROM t GROUP BY k")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(detUdaf == Map("g1" -> Some("b"), "g2" -> Some("a"), "g3" -> Some("z")))
  }

  test("windowMeans broadcasts the group mean to every row (transform('mean'))") {
    val d = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("k", "x")
    val out = Aggregates.windowMeans(d, Seq("k"), Map("x" -> "m"))
      .select("k", "m").distinct().collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("a" -> 2.0, "b" -> 10.0))
  }

  test("approx_count_distinct lands within 5% of exact at sf0.001") {
    val li = graft.Tables.load(spark, sf0001, "lineitem")
    val exact = li.agg(countDistinct($"l_partkey")).head().getLong(0).toDouble
    val approx = li.agg(approx_count_distinct($"l_partkey", 0.02)).head().getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("HLL sketch union across groups lands within 5% of global exact") {
    val li = graft.Tables.load(spark, sf0001, "lineitem")
    val exact = li.agg(countDistinct($"l_partkey")).head().getLong(0).toDouble
    // pre-aggregate per month, union the fixed-size sketches — the 100 TB
    // distinct-count pattern (no key ever crosses the wire twice)
    val approx = li
      .groupBy(date_format($"l_shipdate", "yyyy-MM").as("m"))
      .agg(hll_sketch_agg($"l_partkey").as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk")))
      .head().getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("approx percentiles: q94's in-row GK rank-error check holds per group") {
    // the query itself counts the estimates' exact ranks against the
    // data and emits est_ok — the spec pins that the bound holds (the
    // driver's oracle then pins est_ok == TRUE cross-engine)
    val rows = graft.SparkEntry.queries("q94_approx_percentiles")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (flag, ok) => assert(ok, s"$flag GK rank bound violated") }
  }

  test("count-min estimates bound exact counts: exact <= est <= exact + eps*N") {
    // q93 evaluates the CM guarantee in-row (est_ok); the spec pins it
    val rows = graft.SparkEntry.queries("q93_countmin_probe")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (k, exact, ok) =>
      assert(exact > 0 && ok, s"CM bound violated for key $k (exact $exact)") }
  }
}

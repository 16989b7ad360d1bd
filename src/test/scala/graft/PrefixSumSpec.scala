package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.PrefixSum

/** PrefixSum must be ROW-IDENTICAL to the single-task-per-partition window
  * it replaces (q142/q113/q58's `PARTITION BY source` running sums/ranks),
  * across randomized multi-seed inputs: low-cardinality keys, heavy order
  * ties, negative values, skewed key sizes, degenerate cell counts.
  */
class PrefixSumSpec extends SparkSuite {

  import spark.implicits._

  private def fixture(seed: Long, nKeys: Int, rows: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until rows).map { i =>
      val key = s"k${rnd.nextInt(nKeys)}"
      val ord = rnd.nextInt(5) match {
        case 0 => 0L // constant runs: heavy ties across cell boundaries
        case 1 => (rnd.nextInt(7) - 3).toLong
        case _ => (rnd.nextInt(2000) - 1000).toLong
      }
      val v = (rnd.nextInt(200) - 50).toLong // negative values too
      (i.toLong, key, ord, v)
    }.toDF("id", "key", "ord", "v").repartition(7)
  }

  test("exclusiveSum + rank ≡ window prefix sum + row_number (randomized, both directions)") {
    for (seed <- Seq(2L, 11L, 77L)) {
      val rnd = new scala.util.Random(seed ^ 0x9e3779b9L)
      val asc = rnd.nextBoolean()
      val cells = 1 + rnd.nextInt(30)
      val rows = 800 + rnd.nextInt(1200)
      val df = fixture(seed, nKeys = 1 + rnd.nextInt(6), rows = rows)
      val got = withCells(cells)(PrefixSum.exclusiveSum(df, Seq("key"), col("ord"), asc,
        Seq(col("id")), col("v"), "cum", Some("rn")))
      val w = Window.partitionBy(col("key"))
        .orderBy((if (asc) col("ord").asc else col("ord").desc), col("id").asc)
      val want = df
        .withColumn("cum_w",
          coalesce(sum(col("v")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("rn_w", row_number().over(w).cast("long"))
      val bad = got.join(want.select(col("id"), col("cum_w"), col("rn_w")), "id")
        .filter(col("cum") =!= col("cum_w") || col("rn") =!= col("rn_w")).count()
      assert(bad == 0L, s"seed=$seed asc=$asc cells=$cells: $bad rows diverged")
      assert(got.count() === df.count())
    }
  }

  test("exclusiveMaxLong ≡ global window exclusive running max (randomized)") {
    for (seed <- Seq(3L, 19L)) {
      val rnd = new scala.util.Random(seed)
      val cells = 1 + rnd.nextInt(20)
      // unique asc order key (q198's bucket id), monotone-ish but not
      // strictly monotone values
      val rows = (0 until 500 + rnd.nextInt(800)).map { i =>
        (i.toLong * 3 + rnd.nextInt(2), rnd.nextInt(100000).toLong)
      }.distinct
      val df = rows.toDF("b", "mx").repartition(5)
      val got = withCells(cells)(
        PrefixSum.exclusiveMaxLong(df, col("b"), Nil, col("mx"), "pmx"))
      val want = df.withColumn("pmx_w",
        max(col("mx")).over(
          Window.orderBy(col("b").asc).rowsBetween(Window.unboundedPreceding, -1)))
      val bad = got.join(want.select(col("b"), col("pmx_w")), "b")
        .filter(!(col("pmx") <=> col("pmx_w"))).count()
      assert(bad == 0L, s"seed=$seed cells=$cells: $bad rows diverged")
    }
  }

  test("adversarial packAscii collapse: boilerplate prefix funnels ONE cell — still row-correct; offset pack re-splits (cellLoad measures both)") {
    // The q140 shape under attack: 10⁴ docs sharing one 8-char block
    // prefix AND identical bytes 9..14 (the q140 pack window), diverging
    // only from byte 15 — packAscii(key, 9, 6) packs every row to one
    // value, so the hot block degenerates to ONE (key, cell).
    val n = 10000
    val docs = (0 until n).map { i =>
      // bytes 1-8 "boilerpl" (block), 9-14 "atexxx" (packed window,
      // identical), 15+ diverge per row
      (i.toLong, "boilerplatexxx" + f"$i%06d")
    }.toDF("doc_id", "key").repartition(8)
    val collapsing = PrefixSum.packAscii(col("key"), 9, 6)
    val offsetPack = PrefixSum.packAscii(col("key"), 15, 6)
    // 1. cellLoad SEES the hazard: the collapsing layout puts all N rows
    //    in one cell; the offset pack (past the boilerplate) splits them
    val loadBad = withCells(64)(PrefixSum.cellLoad(
      docs.withColumn("blk", substring(col("key"), 1, 8)), Seq("blk"), collapsing))
      .agg(max(col("n_rows"))).head().getLong(0)
    val loadGood = withCells(64)(PrefixSum.cellLoad(
      docs.withColumn("blk", substring(col("key"), 1, 8)), Seq("blk"), offsetPack))
      .agg(max(col("n_rows"))).head().getLong(0)
    assert(loadBad == n.toLong, s"expected total collapse, got max cell $loadBad")
    assert(loadGood <= n / 8,
      s"offset pack must re-split the hot block: max cell $loadGood > ${n / 8}")
    // 2. the collapsed layout is DEGRADED, NOT WRONG: rank output stays
    //    row-identical to Spark's own window row_number (the documented
    //    contract — never worse than the window it replaces)
    val blocked = docs.withColumn("blk", substring(col("key"), 1, 8))
    val got = withCells(64)(PrefixSum.rank(blocked, Seq("blk"), col("key"), ascending = true,
      Seq(col("doc_id")), "pos", cellKey = Some(collapsing), broadcastOffsets = false))
    val w = Window.partitionBy(col("blk")).orderBy(col("key").asc, col("doc_id").asc)
    val want = blocked.withColumn("pos_w", row_number().over(w).cast("long"))
    val bad = got.join(want.select(col("doc_id"), col("pos_w")), "doc_id")
      .filter(col("pos") =!= col("pos_w")).count()
    assert(bad == 0L, s"$bad rows diverged under total cell collapse")
  }

  test("null order key raises (fail-fast precondition, shared with exactNtile)") {
    val df = Seq((1L, "a", java.lang.Long.valueOf(5L), 1L),
      (2L, "a", null.asInstanceOf[java.lang.Long], 2L))
      .toDF("id", "key", "ord", "v")
    val ex = intercept[Exception] {
      PrefixSum.exclusiveSum(df, Seq("key"), col("ord"), true,
        Seq(col("id")), col("v"), "cum").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("null sort key")), s"unexpected error: $ex")
  }

  test("plan: no window partition ever exceeds ~N/cells rows (subtotal windows are cell-bounded)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val df = fixture(5L, nKeys = 3, rows = 2000)
    val got = withCells(16)(PrefixSum.exclusiveSum(df, Seq("key"), col("ord"), true,
      Seq(col("id")), col("v"), "cum", Some("rn")))
    got.collect()
    val wins = planNodes(got.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    // every window partitions by MORE than the raw low-cardinality key:
    // either (key, cell) on data rows or key over the ≤cells-row subtotals
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty, "PrefixSum leaked a global window")
      val onDataRows = w.partitionSpec.exists(_.references.exists(_.name == "__pc"))
      val onSubtotals = planNodes(w.child).exists {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _ => false
      }
      assert(onDataRows || onSubtotals,
        s"window neither cell-partitioned nor over the subtotal rollup:\n${w.treeString.take(800)}")
    }
  }
}

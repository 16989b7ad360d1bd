package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, LocalTableScanExec, TakeOrderedAndProjectExec}

/** Battery-WIDE plan invariants — every query in SparkEntry.queries, not
  * a per-query pin (round-9 verdict: the q204/q208/q212 global-window pin
  * proved the right invariant but covered 3 of ~45 queries; "aggregated"
  * also isn't "bounded", which is how data-sized per-entity ntiles
  * slipped through). The rules:
  *
  *  1. NO CartesianProductExec anywhere in the battery. A cross product
  *     both of whose sides are data-sized cannot survive any scale.
  *  2. A WindowExec with an EMPTY partitionSpec funnels its whole input
  *     into one task, so it is allowed only when BOTH hold:
  *       (a) structurally, something bounding sits beneath it (an
  *           aggregate rollup, a global limit / TakeOrdered, a local
  *           relation, or a WindowGroupLimit rank-prune), so a raw
  *           data-sized scan can never feed it directly; and
  *       (b) the QUERY is whitelisted below with a justification AND
  *           declared growth/size numbers that the SF-growth test
  *           machine-checks (round-10 verdict: 43 of 44 "saturating"
  *           claims were reviewed prose — now every claim is measured).
  *  3. A BroadcastNestedLoopJoin materializes its build side on every
  *     executor, so its BUILD subtree must be structurally bounded the
  *     same way, or the query whitelisted with the build's bound.
  *  4. A WindowExec with a NON-empty partitionSpec over a NON-aggregated
  *     child can still be a scale killer when the key domain is a small
  *     lattice (`PARTITION BY source`, ~20 values: N/20 rows in ONE
  *     task — the round-10 residual hazard class). The lattice sweep
  *     measures MAX ROWS PER PARTITION KEY at sf0.001 vs sf0.01 by
  *     executing the window's child and projecting its partition keys:
  *     per-key growth ≳ the 10× data growth means the key domain does
  *     NOT grow with the data — the query must restructure (PrefixSum /
  *     exactNtile) or carry a justified whitelist entry.
  *
  * Whitelists are exact: a query that stops tripping a rule FAILS the
  * stale-entry check, so entries can't outlive their hazard.
  */
class BatteryPlanSpec extends SparkSuite {

  /** A partition-less-window boundedness claim, machine-checked: `why`
    * names the domain that bounds the windowed relation; `maxGrowth` is
    * the admitted input-row growth for 10× data (sf0.001 → sf0.01 —
    * saturating domains may legitimately exceed the ≤2× of a saturated
    * one while the fixture is still below the domain ceiling, which is
    * why the growth bound pairs with an ABSOLUTE row cap at sf0.01);
    * `maxRows01` caps the window input at sf0.01.
    */
  private final case class GBound(why: String, maxGrowth: Double, maxRows01: Long)

  /** query → why its partition-less window input stays bounded at scale */
  private val globalWindowBounded: Map[String, GBound] = Map(
    "q120_vocab_coverage" -> GBound("cumulative share over the ranked-vocab rollup — vocabulary-bounded (zipf domain saturates)", 1.5, 100),
    "q129_source_gini" -> GBound("Lorenz walk over the 20-source rollup (source lattice)", 1.5, 25),
    "q132_ks_test" -> GBound("CDF merge over the value-bucket rollup — bucket-domain-bounded (~40 rows, SF-invariant)", 1.5, 100),
    "q133_bm25" -> GBound("IDF over the query-term vocabulary rollup (~500 terms, corpus-vocabulary-saturating)", 2.0, 1000),
    "q165_skyline" -> GBound("prefix-max over the per-price rollup — price-domain-bounded (TPC-H retail prices saturate ~100k distinct); scaladoc documents the range-partition two-pass beyond-domain path", 6.0, 5000),
    "q166_seasonal_decomp" -> GBound("hourly rollup — calendar-bounded (saturating at the fixture's range ceiling)", 2.0, 1000),
    "q173_largest_remainder" -> GBound("5-row priority rollup", 1.5, 10),
    "q174_ratio_to_report" -> GBound("25-row nation rollup", 1.5, 30),
    "q178_interval_proration" -> GBound("calendar-month rollup (SF-invariant)", 1.5, 200),
    "q181_inverted_index" -> GBound("posting-vocabulary rollup (SF-invariant; measured as its 200-row literal limit)", 1.5, 250),
    "q183_welch_ttest" -> GBound("5-group stat rollup", 1.5, 10),
    "q185_attribution" -> GBound("5-channel rollup", 1.5, 10),
    "q189_kaplan_meier" -> GBound("distinct-event-time rollup — duration-domain-bounded (saturating)", 6.0, 100),
    "q192_chi2_independence" -> GBound("contingency lattice (35 cells, SF-invariant)", 1.5, 50),
    "q196_mutual_info" -> GBound("joint-distribution lattice (35 cells, SF-invariant)", 1.5, 50),
    "q198_id_gaps" -> GBound("rank over the 10 TakeOrdered gap survivors (limit beneath; the cross-bucket lag itself is PrefixSum.exclusiveMaxLong — no data-sized global window remains)", 1.5, 15),
    "q201_cross_correlation" -> GBound("7-lag lattice", 1.5, 10),
    "q203_lift_curve" -> GBound("cumulative windows over the 10-row decile rollup (deciles assigned by the distributed Quantiles.exactNtile)", 1.5, 15),
    "q204_hotspots" -> GBound("40×40 grid lattice (1600 cells, SF-invariant)", 1.5, 1700),
    "q208_waterfall" -> GBound("5-row stage rollup", 1.5, 10),
    "q212_cumulative_uniques" -> GBound("weekly rollup — calendar-bounded (saturating)", 6.0, 50),
    "q222_woe_iv" -> GBound("WoE walk over the 10-bin rollup (bins assigned by the distributed Quantiles.exactNtile)", 1.5, 15),
    "q226_js_divergence" -> GBound("5-bin rollup", 1.5, 10),
    "q227_brier_calibration" -> GBound("calibration-bin rollup (≤10 rows)", 1.5, 15),
    "q229_zipf_fit" -> GBound("top-rank vocabulary rollup (SF-invariant; measured as its 200-row literal limit)", 1.5, 250),
    "q232_theil_sen" -> GBound("pairwise day-slope relation — CALENDAR-bounded (days², constant in corpus size; 2.6M→3.1M measured)", 2.0, 4000000),
    "q233_cuped" -> GBound("2-row period rollup", 1.5, 5),
    "q234_did" -> GBound("4-cell diff-in-diff lattice", 1.5, 10),
    "q236_qini_curve" -> GBound("10-row decile rollup (deciles assigned by the distributed Quantiles.exactNtile)", 1.5, 15),
    "q238_retrieval_metrics" -> GBound("query×rank lattice (20 rows)", 1.5, 25),
    "q239_logrank" -> GBound("distinct-event-time rollup — duration-domain-bounded", 6.0, 100),
    "q241_bh_fdr" -> GBound("hypothesis-test rollup (9 rows, test lattice)", 1.5, 15),
    "q243_emd_drift" -> GBound("10-bin shared-grid rollup (corpus min/max is a broadcast scalar agg, not a raw-relation window)", 1.5, 15),
    "q244_neyman_allocation" -> GBound("25-stratum lattice", 1.5, 30),
    "q245_bloom_fpr" -> GBound("4-row sizing-config lattice", 1.5, 10),
    "q246_consistent_hashing" -> GBound("256-vnode ring lattice", 1.5, 300),
    "q248_mix_decomposition" -> GBound("3-row source rollup", 1.5, 10),
    "q252_silhouette" -> GBound("per-cell rollup of the √N-cell layout (sublinear: ~1k cells at 1M vectors)", 4.0, 1000),
    "q254_weighted_reservoir" -> GBound("rank over the 20 TakeOrdered winners (limit beneath)", 1.5, 25),
    "q264_isotonic" -> GBound("20-bin score lattice (hash-uniform bins, SF-invariant)", 1.5, 25),
    "q265_changepoint" -> GBound("daily rollup — calendar-bounded", 2.0, 1000),
    "q267_nelson_aalen" -> GBound("distinct-event-time rollup — duration-domain-bounded", 6.0, 100))

  /** query → why its nested-loop BUILD side stays bounded at scale (only
    * needed where the bound is a literal filter / lattice the structural
    * check can't see)
    */
  private val nestedLoopBounded: Map[String, String] = Map(
    "q39_embed_topk" -> "query side bounded by literal filter vec_id < 10",
    "q40_embed_ivf" -> "query side vec_id < 10; centroid side √N-sampled (q302 rule; q40 is the WIDE 5-probe arm of the recall/latency knob)",
    "q302_embed_ivf_sqrt" -> "query side vec_id < 10; centroid side √N-sampled (sublinear broadcast — the standard IVF nlist rule)",
    "q323_ivf_sampled_train" -> "query side vec_id < 10; centroid side √N-sampled (q302 rule); Lloyd TRAINING side a ~4√N sample (sublinear) — the production build recipe",
    "q310_ivfpq_adc" -> "query side vec_id < 10; centroid side √N-sampled (q302 rule); codebook fixed at ~64 codewords (q125 rule); LUT = queries × 64 × nSub rows",
    // q324/q328 plan NO BNLJ since the serve rework: the probe crossJoin
    // runs once, eagerly, and the served plan joins the collected pairs
    "q326_ivfpq_persisted_serve" -> "query side vec_id < 10; LUT crossJoin broadcasts the persisted ~64-codeword codebook (N/64 stride — constant at any corpus size); probe crossJoin is eager, outside the served plan",
    "q329_ivfpq_refresh_serve" -> "q326's LUT shape over the REFRESHED index: persisted ~64-codeword codebook (N_old/64 stride), query side vec_id < 10",
    "q332_pq_trained_codebook" -> "q326's LUT shape over the TRAINED-codebook index: the broadcast side is the persisted codebook parquet — trainSubCodebooks preserves the seed's code domain (Extended70Spec pins it), so it is the same ~64-codeword constant-size relation at any corpus size",
    "q334_pq_hires_adc_serve" -> "q326's LUT shape at the hi-res geometry: the broadcast side is the persisted ~256-codeword codebook (N/256 stride — constant at any corpus size); query side vec_id < 10",
    "q337_pq_residual_adc_serve" -> "q326's LUT shape over the RESIDUAL-coded index: the broadcast side is the persisted ~256-codeword residual codebook (N/256 stride — constant at any corpus size); the centroid-dot side is the bounded probe-pair list against the √N centroid broadcast; query side vec_id < 10",
    "q338_residual_refresh_serve" -> "q337's serve shape over the residual-REFRESHED index: same persisted ~256-codeword residual codebook broadcast (N_old/256 stride — constant at any corpus size), bounded probe-pair centroid-dot side, query side vec_id < 10",
    "q339_residual_rebuild_serve" -> "q337's serve shape over the residual-REBUILT index: rebuild re-derives the codebook at N_union/256 stride (still a constant-size broadcast), bounded probe-pair centroid-dot side, query side vec_id < 10",
    "q315_hybrid_retrieval" -> "dense query side bounded by literal filter vec_id < 5; sparse broadcasts bounded by the 5 probe docs' term set (qt/dfT) and a 1-row stats scalar",
    "q123_ann_recall" -> "both arms' query sides bounded by vec_id < 10",
    "q304_matryoshka_overlap" -> "anchor side bounded by literal filter vec_id < 10",
    "q41_embed_neardup" -> "√N-cell centroid broadcast for the blocking assignment (sublinear, the q302 rule)",
    "q125_pq_encode" -> "codebook fixed at ~64 codewords (stride = N div 64 — constant broadcast at any corpus size)",
    "q127_psi_drift" -> "10-bin boundary relation",
    "q128_exact_decontam" -> "5-row benchmark-probe set",
    "q135_jaro_winkler" -> "25-anchor bounded relation",
    "q147_bpe_merges" -> "1-row selected-merge scalar per iteration (reused exchange hides the agg)",
    "q148_cascade_delete" -> "bounded delete-key set (reused exchange hides the limit)",
    "q213_haversine" -> "25-vertex centroid relation (intentional bounded all-pairs)",
    "q238_retrieval_metrics" -> "20-row judged set",
    "q246_consistent_hashing" -> "256-vnode ring relation",
    "q252_silhouette" -> "√N-cell centroid relation (sublinear broadcast, the q302 rule)",
    "q263_grid_dbscan" -> "occupied-cell rollup (reused exchange hides the agg)",
    "q264_isotonic" -> "20-bin pre relation (non-equi segment join over the bin lattice)",
    "q268_markov_attribution" -> "state-lattice transition matrix (≤16 states)",
    "q289_shapley_attribution" -> "2⁴ coalition lattice",
    "q297_triplet_mining" -> "20-anchor bounded broadcast",
    "q300_label_noise" -> "50-anchor bounded broadcast",
    "q54_join_cross" -> "region × nation dims (5 × 25, intentional bounded cross)",
    "q97_fuzzy_match" -> "25-anchor bounded relation")

  /** query → why its lattice-key window (non-empty partitionSpec whose
    * per-key row count GROWS with the data) survives 100 TB. The only
    * admitted class is the cell-layout helper machinery itself: its
    * in-(key, cell) windows deliberately bound the largest task at
    * ~N/(keys·cells), where the layout derives `cells` from the row count
    * (at least 64, one per 2^20 rows past that, at most 4096) —
    * documented in CellLayout scaladoc, row-identity pinned in
    * QuantilesSpec/PrefixSumSpec. Raw low-cardinality partitions (the
    * q142/q113/q58 class this sweep exists to catch) must restructure
    * instead.
    */
  private val latticeWindowBounded: Map[String, String] = Map(
    "q58_window_nav" -> "PrefixSum.rank in-cell windows over raw orders — cells are the load parameter (N/(5·cells) per task; cells grow with N)",
    "q134_equidepth_hist" -> "exactNtile in-cell windows over raw lineitem — cells are the load parameter (N/cells per task)",
    "q140_sorted_neighborhood" -> "PrefixSum.rank in-cell windows over docs blocked by 8-char prefix — cells (packed post-prefix bytes) split hot blocks; cells are the load parameter",
    "q171_weighted_median" -> "PrefixSum.exclusiveSum in-cell windows over raw lineitem — cells are the load parameter (N/(3·cells) per task)",
    "q172_rfm" -> "exactNtiles in-cell windows over the Ckpt'd per-customer rollup (the Ckpt hides the agg from the structural check) — cells are the load parameter",
    "q203_lift_curve" -> "exactNtile in-cell windows over the Ckpt'd per-order score relation — cells are the load parameter",
    // r16: exactNtiles/PrefixSum now Ckpt their prepared input (one
    // materialization instead of 2+k recomputes), which hides the
    // bin/frequency rollup beneath from the structural check — the
    // windows themselves are the same domain-saturating lattices the
    // detector admitted structurally before the materialization
    "q222_woe_iv" -> "exactNtile in-cell windows over the Ckpt'd n_chars-bin rollup (Ckpt hides the agg; bins saturate at the length domain)",
    "q236_qini_curve" -> "exactNtile in-cell windows over the Ckpt'd per-decile rollup (Ckpt hides the agg; deciles saturate at the score domain)",
    "q283_spearman" -> "PrefixSum in-cell windows over the Ckpt'd (g, value) frequency rollup (Ckpt hides the agg; quantity saturates at 50 distinct, price at ~100k — the q165 argument)")


  private def bounded(p: SparkPlan): Boolean = planNodes(p).exists {
    case _: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec => true
    case _: GlobalLimitExec | _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
    case _: LocalTableScanExec => true
    case _: WindowGroupLimitExec => true
    case _ => false
  }

  test("battery-wide: no cartesian products; every partition-less window and BNLJ build is bounded") {
    val flaggedWindows = scala.collection.mutable.Set[String]()
    val flaggedBnlj = scala.collection.mutable.Set[String]()
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sf0001)
      val all = planNodes(df.queryExecution.executedPlan)
      all.foreach {
        case _: CartesianProductExec =>
          failures += s"$name: CartesianProduct in the plan"
        case w: WindowExec if w.partitionSpec.isEmpty =>
          flaggedWindows += name
          if (!bounded(w.child))
            failures += s"$name: partition-less window over a structurally UNBOUNDED child:\n${w.child.treeString.take(2000)}"
          if (!globalWindowBounded.contains(name))
            failures += s"$name: partition-less window but no boundedness justification — partition it, bound it, or whitelist it with a 100 TB argument"
        case j: BroadcastNestedLoopJoinExec =>
          flaggedBnlj += name
          val build = j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
            case _ => j.right
          }
          if (!bounded(build) && !nestedLoopBounded.contains(name))
            failures += s"$name: BNLJ build side neither structurally bounded nor whitelisted:\n${build.treeString.take(2000)}"
        case _ =>
      }
    }
    // stale whitelist entries can't outlive their hazard
    (globalWindowBounded.keySet -- flaggedWindows).toSeq.sorted.foreach { n =>
      failures += s"stale globalWindowBounded entry: $n no longer has a partition-less window"
    }
    (nestedLoopBounded.keySet -- flaggedBnlj).toSeq.sorted.foreach { n =>
      failures += s"stale nestedLoopBounded entry: $n no longer plans a BNLJ"
    }
    assert(failures.isEmpty, failures.mkString("\n---\n"))
  }

  /** Max partition-less-window input rows, measured from executed-plan
    * metrics (the round-8 q232 technique, now looped over EVERY entry).
    */
  private def globalWindowInputRows(name: String, dir: String): Long = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.toRdd.count()
    val wins = planNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(wins.nonEmpty, s"$name lost its global window — stale whitelist entry")
    wins.map { w =>
      // pre-order walk: the first LIMIT caps the true window input (its
      // own descendants' metrics are pre-limit and would overstate it);
      // otherwise the first row metric is the input
      planNodes(w.child).collectFirst {
        case l: GlobalLimitExec => l.limit.toLong
        case l: TakeOrderedAndProjectExec => l.limit.toLong
        case l: CollectLimitExec => l.limit.toLong
        case c if c.metrics.contains("numOutputRows") => c.metrics("numOutputRows").value
      }.getOrElse(fail(s"no row metric beneath $name's global window in $dir"))
    }.max
  }

  test("every globalWindowBounded claim is machine-checked: window input growth and absolute size") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val report = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, b) <- globalWindowBounded.toSeq.sortBy(_._1)) {
      try {
        val small = globalWindowInputRows(name, sf0001)
        val big = globalWindowInputRows(name, "/root/testdata/sf0.01")
        val growth = if (small == 0) Double.PositiveInfinity else big.toDouble / small
        report += f"$name%-28s $small%8d -> $big%8d  (${growth}%.2fx, declared ≤${b.maxGrowth}, ≤${b.maxRows01} rows)"
        if (small == 0) failures += s"$name: degenerate fixture (0-row window input at sf0.001)"
        if (growth > b.maxGrowth)
          failures += f"$name: window input grew ${growth}%.2fx for 10x data (declared ≤${b.maxGrowth}): $small -> $big — claim '${b.why}' no longer holds"
        if (big > b.maxRows01)
          failures += s"$name: window input $big rows at sf0.01 exceeds declared cap ${b.maxRows01}"
      } catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        case e: Throwable => failures += s"$name: measurement failed: ${e.getMessage}"
      }
    }
    info(report.mkString("\n"))
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** Row-count boundedness along the MAIN (row-count-determining) path:
    * unlike [[bounded]] (rules 2/3, where an agg ANYWHERE beneath
    * suffices because the whitelist carries the real claim), this does
    * NOT let an aggregate on a broadcast BUILD side vouch for a raw
    * probe side — the round-10 hole that let `raw JOIN broadcast(rollup)`
    * windows (q113's shape) pass as "aggregated".
    */
  private def boundedMain(p: SparkPlan): Boolean = p match {
    case _: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec => true
    case _: GlobalLimitExec | _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
    case _: LocalTableScanExec => true
    case _: WindowGroupLimitExec => true
    case a: AdaptiveSparkPlanExec => boundedMain(a.executedPlan)
    case s: QueryStageExec => boundedMain(s.plan)
    case r: ReusedExchangeExec => boundedMain(r.child)
    case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
      boundedMain(j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case _ => j.left
      })
    case j: BroadcastNestedLoopJoinExec =>
      boundedMain(j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case _ => j.left
      })
    case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
      boundedMain(j.left) && boundedMain(j.right)
    case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
      boundedMain(j.left) && boundedMain(j.right)
    case u: org.apache.spark.sql.execution.UnionExec => u.children.forall(boundedMain)
    case other if other.children.size == 1 => boundedMain(other.children.head)
    case _ => false
  }

  /** Rule-4 measurement: max rows funneled into ONE key of a lattice
    * window, by executing the window's CHILD and projecting its partition
    * keys (AQE disabled so executedPlan subtrees execute directly).
    */
  private def maxRowsPerKey(w: WindowExec): Long = {
    val exprs = w.partitionSpec
    val out = w.child.output
    val rdd = w.child.execute().mapPartitions { it =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(exprs, out)
      it.map(r => (proj(r).copy(), 1L))
    }
    rdd.reduceByKey(_ + _).map(_._2).fold(0L)(math.max)
  }

  /** Candidate lattice windows of one query: non-empty partitionSpec over
    * a structurally unbounded child (an aggregated child saturates per
    * key by construction; a WindowGroupLimit prunes to top-k per key).
    */
  private def latticeWindows(name: String, dir: String): Seq[WindowExec] = {
    val df = SparkEntry.queries(name)(spark, dir)
    planNodes(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.nonEmpty && !boundedMain(w.child) => w
    }
  }

  /** query → why its PrefixSum in-cell window may grow linearly across
    * the SECOND document decade (sf0.1 → sf1) while staying sound at
    * 100 TB. The in-cell window's task bound is N/(|keys|·cells) BY
    * DESIGN (CellLayout scaladoc): the layout keeps 64 cells up to
    * 64·2^20 rows and adds one cell per 2^20 rows past that (at most
    * 4096), so growth at these sizes — all below 64·2^20 rows, 64 cells —
    * is the documented contract, not a plan defect; the base sweep can't
    * see it because N/(keys·cells) ≪ 1 row at sf0.001. Queries whose
    * order keys are heavy-tie integers also pass tieCell so the bound
    * really is N/(keys·cells) and not hot-value multiplicity.
    */
  private val latticeDocDecadeBounded: Map[String, String] = Map(
    // r16: q145/q203/q314 dropped — with the PrefixSum/exactNtiles input
    // materialization their in-cell windows no longer register as
    // candidates on this axis (stale-entry rule: a whitelist entry can't
    // outlive its flag)
    "q113_mix_materialize" -> "PrefixSum in-cell window over (source, cell): N/(sources·cells) per task, cells derived from N (64 below 64·2^20 rows)",
    "q142_topp_nucleus" -> "PrefixSum in-cell window over (source, cell): N/(sources·cells) per task, cells derived from N (64 below 64·2^20 rows)",
    "q190_quantile_normalize" -> "PrefixSum in-cell window over (source, cell), tieCell-split integer order: N/(sources·cells) per task",
    "q309_stratified_sample" -> "PrefixSum in-cell window over (source, cell): N/(sources·cells) per task, cells derived from N (64 below 64·2^20 rows)")

  /** Shared measurement loop for both lattice sweeps: max-rows-per-key
    * growth of every candidate window across (smallDir, bigDir). An empty
    * window input at the small SF cannot certify anything — if the big SF
    * is non-empty it is flagged like any hazard (whitelist or fix the
    * fixture), mirroring the globalWindowBounded degenerate-fixture rule.
    * Returns (failures, flagged names, report lines).
    */
  private def sweepLattices(
      candidates: Seq[String], smallDir: String, bigDir: String,
      label: String,
      whitelist: Map[String, String]): (Seq[String], Set[String], Seq[String]) = {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val flagged = scala.collection.mutable.Set[String]()
    val report = scala.collection.mutable.ArrayBuffer[String]()
    for (name <- candidates) {
      val small = latticeWindows(name, smallDir).map(maxRowsPerKey)
      val big = latticeWindows(name, bigDir).map(maxRowsPerKey)
      if (small.size != big.size)
        failures += s"$name: candidate window count changed across SFs (${small.size} vs ${big.size}) — plan is SF-dependent, update the sweep"
      else small.zip(big).zipWithIndex.foreach { case ((s0, s1), i) =>
        val growth = if (s0 == 0) Double.PositiveInfinity else s1.toDouble / s0
        report += f"$name%-28s win#$i maxPerKey $s0%7d -> $s1%7d (${growth}%.2fx)"
        if ((s0 == 0 && s1 > 0) || (s0 > 0 && growth > 5.0)) {
          flagged += name
          if (!whitelist.contains(name))
            failures += f"$name: window #$i funnels ${growth}%.2fx more rows per partition key $label ($s0 -> $s1) — a low-cardinality-key window over a data-sized relation; restructure (PrefixSum/exactNtile) or whitelist with a 100 TB argument"
        }
      }
    }
    (failures.toSeq, flagged.toSet, report.toSeq)
  }

  test("every 'Ckpt hides the agg' whitelist claim shows the aggregate in the captured pre-Ckpt plan") {
    // r16 verdict item 7: each materialization point blinds the
    // structural gate, so whitelist entries justified by "the rollup
    // sits beneath the Ckpt" were unchecked prose. This asserts them:
    // construct each such query with the Ckpt capture hook on and
    // require at least one captured pre-Ckpt ANALYZED plan to contain an
    // Aggregate — if a refactor ever drops the hidden rollup, the claim
    // fails here instead of silently eroding the gate. Entries are
    // selected by their own wording (any whitelist row whose claim
    // mentions Ckpt), so a new "Ckpt hides" entry is auto-enrolled.
    val claimants = (globalWindowBounded.view.mapValues(_.why).toSeq ++
      latticeWindowBounded.toSeq ++ latticeDocDecadeBounded.toSeq)
      .filter(_._2.toLowerCase.contains("hides the agg")).map(_._1).distinct.sorted
    assert(claimants.nonEmpty, "selector broke: no Ckpt-justified whitelist entries found")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    for (name <- claimants) {
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
      graft.ops.Ckpt.captureTo.set(buf)
      try SparkEntry.queries(name)(spark, sf0001).queryExecution.analyzed
      finally graft.ops.Ckpt.captureTo.remove()
      if (buf.isEmpty)
        failures += s"$name: whitelist claim mentions Ckpt but the query constructed no Ckpt"
      else if (!buf.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])))
        failures += s"$name: no captured pre-Ckpt plan contains an Aggregate — the 'Ckpt hides the agg' claim no longer holds:\n" +
          buf.map(_.treeString.take(800)).mkString("\n--\n")
    }
    assert(failures.isEmpty, failures.mkString("\n---\n"))
  }

  test("lattice sweep: no window funnels data-growing row counts into single partition keys") {
    val conf = spark.conf
    val aqeKey = "spark.sql.adaptive.enabled"
    val prior = conf.get(aqeKey)
    conf.set(aqeKey, "false")
    try {
      val names = SparkEntry.queries.keys.toSeq.sorted
      // pass 1 (cheap): which queries even HAVE candidate windows at
      // sf0.001. The growth measurement then spans sf0.001 → sf0.1 (100×
      // on the TPC-H tables, 10× on documents — the 0.001/0.01 document
      // fixtures are both 500 docs, which would hide document-table
      // lattices entirely), so a per-key-saturating window sits well
      // under the 5× gate while an N/k lattice shows ~10–100×. The
      // documents/embeddings axis gets a SECOND decade in the next test.
      val candidates = names.filter(n => latticeWindows(n, sf0001).nonEmpty)
      val (failures, flagged, report) =
        sweepLattices(candidates, sf0001, sf01, "for 10-100x data",
          latticeWindowBounded)
      val stale = (latticeWindowBounded.keySet -- flagged).toSeq.sorted.map { n =>
        s"stale latticeWindowBounded entry: $n no longer has a data-growing lattice window"
      }
      info(report.mkString("\n"))
      assert(failures.isEmpty && stale.isEmpty, (failures ++ stale).mkString("\n---\n"))
    } finally conf.set(aqeKey, prior)
  }

  test("lattice sweep, document axis decade 2: sf0.1 → sf1 for document/embedding readers") {
    // The base sweep's document growth tops out at 10× (500 → 5,000 docs
    // across sf0.001 → sf0.1) and the embeddings table does not grow AT
    // ALL below sf0.1 (2,000 vectors at every driver SF), so an
    // embeddings-keyed lattice shows 1.0× there no matter how it scales.
    // This pair re-measures every candidate that actually READS
    // documents/embeddings over a genuine 10× decade on that axis
    // (5,000 → 50,000 docs, 2,000 → 20,000 vectors in the GenScale sf1
    // fixture). Builder-side fixture (target/, not in git) — GENERATED ON
    // DEMAND here (GenScale.run is deterministic and sf1 is ~1 min to
    // build), so the doc-axis hazard class is guarded on fresh clones
    // too, not only on machines that ran the scale protocol (ADVICE r12;
    // the old assume() silently cancelled the whole sweep there).
    // Whitelisting uses its OWN map (latticeDocDecadeBounded): the
    // PrefixSum in-cell windows it admits sit UNDER the base pair's gate
    // (N/(keys·cells) ≪ 1 row at sf0.001), so base-sweep staleness would
    // reject them.
    // completion + staleness sentinel = the FIXTURE_VERSION stamp, which
    // GenScale.run writes LAST (each table lands via an atomic move): a
    // generation killed partway leaves tables but never the stamp, and a
    // fixture an OLDER generator wrote carries a mismatching version — so
    // the sweep regenerates instead of silently measuring half-built or
    // stale data (ADVICE r13)
    val sf1 = "target/sfdata/sf1"
    if (!graft.GenScale.stampMatches(sf1, 10)) {
      info(s"$sf1 absent/incomplete/stale — (re)generating via GenScale.run (deterministic, k=10)")
      graft.GenScale.run(spark, sf01, sf1, 10)
    }
    // Row-group parallelism guard (round 14): a row group is parquet's
    // atomic read unit, and a data-sized table generated as ONE group
    // serializes every scan stage onto one task — which inverted the
    // q205/q141 decade measurements before GenScale v2. A slope measured
    // on a degenerate layout is not a slope; fail loudly if it regresses.
    for (t <- Seq("documents", "embeddings", "lineitem")) {
      val g = graft.GenScale.rowGroupsOf(s"$sf1/$t.parquet")
      assert(g >= 32,
        s"$sf1/$t.parquet has $g row groups (<32): sf1-side scan stages " +
          "serialize and the decade sweep measures fixture layout, not the engine")
    }
    val conf = spark.conf
    val aqeKey = "spark.sql.adaptive.enabled"
    val prior = conf.get(aqeKey)
    conf.set(aqeKey, "false")
    try {
      val names = SparkEntry.queries.keys.toSeq.sorted
      // discovery at sf0.001: ONE plan construction per query serves both
      // the lattice-window and the reads-doc-axis predicate (several
      // constructions run eager count() scans — don't pay them twice)
      val candidates = names.filter { n =>
        val ns = planNodes(
          SparkEntry.queries(n)(spark, sf0001).queryExecution.executedPlan)
        val hasLattice = ns.exists {
          case w: WindowExec => w.partitionSpec.nonEmpty && !boundedMain(w.child)
          case _ => false
        }
        def readsDocAxis = ns.exists {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.exists { p =>
              val s = p.toString
              s.contains("documents.parquet") || s.contains("embeddings.parquet")
            }
          case _ => false
        }
        hasLattice && readsDocAxis
      }
      val (failures, flagged, report) =
        sweepLattices(candidates, sf01, sf1, "across the SECOND document decade",
          latticeDocDecadeBounded)
      val stale = (latticeDocDecadeBounded.keySet -- flagged).toSeq.sorted.map { n =>
        s"stale latticeDocDecadeBounded entry: $n no longer flags on the document decade"
      }
      info(s"${candidates.size} document-axis candidates swept at sf0.1 → sf1")
      info(report.mkString("\n"))
      assert(failures.isEmpty && stale.isEmpty, (failures ++ stale).mkString("\n---\n"))
    } finally conf.set(aqeKey, prior)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Physical-plan regression tests: the scale properties (pruning,
  * pushdown, broadcast, codegen, top-k) are asserted, not assumed — a
  * refactor that silently turns a broadcast join into a full shuffle or
  * widens a parquet scan fails here.
  */
class PlanSpec extends SparkSuite {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf0001)

  test("q01: parquet scan prunes to exactly the projected columns") {
    val p = plan(q("q01_scan_project"))
    assert(p.contains("ReadSchema: struct<r_regionkey:int,r_name:string>"))
  }

  test("q02: scan reads only the 5 needed of 11 lineitem columns") {
    val p = plan(q("q02_project_arith"))
    assert(p.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double," +
        "l_extendedprice:double,l_discount:double>")
      || p.contains("l_extendedprice") && !p.contains("l_shipdate"))
  }

  test("filters reach the parquet scan (PushedFilters)") {
    val df = Tables.load(spark, sf0001, "lineitem")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"))
  }

  test("q15: dimension joins broadcast (no shuffle of nation)") {
    val p = plan(q("q15_join_inner"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q17/q18: semi and anti joins plan as semi/anti (not inner + distinct)") {
    assert(plan(q("q17_join_semi")).contains("LeftSemi"))
    assert(plan(q("q18_join_anti")).contains("LeftAnti"))
  }

  test("q13: sorted limit plans as TakeOrderedAndProject (no global sort materialization)") {
    assert(plan(q("q13_sort_topk")).contains("TakeOrderedAndProject"))
  }

  test("q05: aggregation is partial-then-final hash agg inside codegen") {
    val p = plan(q("q05_daily_agg"))
    assert(p.contains("HashAggregate"))
    // two HashAggregates around one Exchange = map-side partial agg
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2)
    // codegen stars only appear once AQE finalizes: execute THIS plan
    // (count()/head() would build a separate execution), then inspect
    val df = q("q05_daily_agg")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("pair-scoring projection with native vec_dot runs inside whole-stage codegen") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val df = graft.ext.Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
    assert(df.collect().nonEmpty)
    // the hot projection (vectordot over join output) must carry the
    // codegen star; the per-row toDouble transforms below the join are
    // allowed to be interpreted (HOFs are CodegenFallback)
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.linesIterator.exists(l =>
      l.contains("*(") && l.contains("vectordot") && l.contains("Project")))
    // and the expression itself must not be a CodegenFallback
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[graft.functions.VectorDot]))
  }

  test("q53/q54: full outer stays a join (no rewrite), cross join is an explicit cartesian") {
    assert(plan(q("q53_join_full")).contains("FullOuter"))
    val p54 = plan(q("q54_join_cross"))
    assert(p54.contains("CartesianProduct") || p54.contains("BroadcastNestedLoopJoin"))
  }

  test("q55: token explode plans as Generate feeding a partial hash agg (no pre-shuffle)") {
    val p = plan(q("q55_explode_tokens"))
    assert(p.contains("Generate"))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2)
  }

  test("q59: band join against the literal dim broadcasts (nested-loop, no shuffle of part)") {
    assert(plan(q("q59_band_join")).contains("BroadcastNestedLoopJoin"))
  }

  test("q64: salted join keys on (key, salt) — the skew-spreading distribution") {
    // at sf0.001 the 8×-replicated dim still broadcasts (no Exchange);
    // the invariant is that the join itself keys on key AND salt, so a
    // hot o_custkey spreads over n partitions whenever it does shuffle
    // formatted mode lists join keys in the details block: "Left keys [2]:
    // [o_custkey#…, __salt#…]"
    val p = plan(q("q64_salted_join"))
    assert(p.linesIterator.exists(l =>
      l.contains("keys") && l.contains("o_custkey") && l.contains("__salt")))
  }

  test("q74: bloom prefilter runs below the semi join, codegen'd (no ScalaUDF)") {
    // the prefilter must sit between the lineitem scan and the join —
    // rows rejected by the sketch never reach the exchange — and it must
    // be Spark's NATIVE might_contain expression (inside whole-stage
    // codegen), never a per-row Scala UDF black box
    val p = plan(q("q74_bloom_semijoin"))
    assert(p.linesIterator.exists(l =>
      l.contains("Condition") && l.contains("might_contain") &&
        l.contains("xxhash64(l_orderkey")), p)
    assert(!p.contains("UDF("), p)
    assert(p.contains("Join LeftSemi"), p)
  }

  test("q89: SQL 6-way star join broadcasts every dimension (single fact shuffle path)") {
    val p = plan(q("q89_sql_q5"))
    // nation/region/supplier/customer are all far under the broadcast
    // threshold — the fact table must never shuffle for them
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q90: interval range frame plans one window over one sort (no extra exchange)") {
    val p = plan(q("q90_range_frame"))
    // both frame aggregates (count, sum) share a single Window operator
    // (tree node "+- Window (n)")
    val nWindows = p.linesIterator.count(_.matches(""".*\+- Window \(\d+\)"""))
    assert(p.contains("RangeFrame") || p.contains("RANGE BETWEEN"), p)
    assert(nWindows == 1, s"expected exactly one Window node, got $nWindows:\n$p")
  }

  test("q75: deterministic sampling filter is computed scan-side (no shuffle at all)") {
    val p = plan(q("q75_stratified_sample"))
    // the only Exchange is the final ORDER BY's range partitioning
    val nExchanges = p.linesIterator.count(_.matches(""".*\+- Exchange \(\d+\)"""))
    assert(nExchanges == 1, s"expected only the final sort's Exchange:\n$p")
    assert(p.contains("md5"), p)
  }

  test("q99: correlated EXISTS decorrelates to a semi join (no per-row subquery)") {
    val p = plan(q("q99_sql_q4"))
    assert(p.contains("LeftSemi"), p)
  }

  test("q100: correlated scalar subquery decorrelates to aggregate + join") {
    val p = plan(q("q100_sql_q17"))
    // the per-part average is computed ONCE as a grouped aggregate and
    // joined back — not re-evaluated per outer row
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.toLowerCase.contains("scalarsubquery"), p)
  }

  test("q37: LSH pipeline is all equi-joins on computed keys (no cartesian anywhere)") {
    val p = plan(q("q37_dedup_minhash"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("maxDf-guarded Jaccard keeps the same no-cartesian shape") {
    val d = Tables.load(spark, sf0001, "documents")
    val p = plan(graft.ext.Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.5, maxDf = 20))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q94: the rank-check join broadcasts the 3-row percentile side (fact never reshuffles)") {
    val df = q("q94_approx_percentiles")
    df.collect() // let AQE finalize the join strategy
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("Lloyd-trained centroid assignment stays a broadcast of the centroid side") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val df = graft.ext.Similarity.ivfTopK(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3, 50, 2, trainIters = 1)
    val p = plan(df)
    // every corpus×centroid / query×centroid pairing goes through a
    // broadcast nested loop over the TINY centroid set — never a
    // shuffle of the corpus against itself
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q111 pair stage: the only quadratic term is within-cell — join keys on cent_id") {
    // the composed q111 checkpoints its CC stage eagerly, so pin the
    // exposed pair subplan: centroid assignment may broadcast-nested-
    // loop over the TINY centroid set, but the corpus-vs-corpus pair
    // join must be an equi-join on the learned cell id — never a
    // corpus-wide cartesian
    val emb = Tables.load(spark, sf0001, "embeddings")
    val p = plan(graft.ext.Similarity.semanticPairs(
      emb, "vec_id", "embedding", stride = 50, trainIters = 1, threshold = 0.4))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("keys") && l.contains("cent_id")), p)
  }

  test("q113: selection rank and running token sum come from ONE PrefixSum pass (cell-partitioned)") {
    val p = plan(q("q113_mix_materialize"))
    // PrefixSum contributes exactly two windows — the ≤cells-per-key
    // subtotal-offset window and the in-(source, cell) window — and the
    // plan never partitions a window by `source` alone
    val nWindows = p.linesIterator.count(_.matches("""\(\d+\) Window"""))
    assert(nWindows == 2, s"expected the two PrefixSum windows, got $nWindows:\n$p")
    assert(p.contains("__pc"), p)
  }

  test("q112/q114: passage dedup is equi-joins + hash aggs only — no cartesian, no sort agg") {
    Seq("q112_passage_dedup", "q114_passage_scrub").foreach { name =>
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
      assert(p.contains("HashAggregate"), p)
    }
  }

  test("q103: cross-set LSH is equi-joins only; q107: sampling filter runs scan-side (no shuffle)") {
    val p103 = plan(q("q103_fuzzy_contamination"))
    assert(!p103.contains("CartesianProduct") && !p103.contains("BroadcastNestedLoopJoin"), p103)
    val p107 = plan(q("q107_weighted_sample"))
    // one scan + filter + sort for the ordered output; no Exchange
    // before the filter (the draw is computed per-row at the scan)
    val beforeSort = p107.split("Sort").head
    assert(!beforeSort.contains("Exchange hashpartitioning"), p107)
  }

  test("q116/q118: map-only curation passes — no shuffle before the output sort") {
    // both are per-doc transforms: the only Exchange allowed is the
    // range partitioning of the final ORDER BY
    for (name <- Seq("q116_gopher_rules", "q118_chunk_windows")) {
      val p = plan(q(name))
      assert(!p.contains("Exchange hashpartitioning"), s"$name shuffles: $p")
      assert(scanCount(p) == 1, name)
    }
  }

  // formatted explain shows each scan twice (tree + detail); count the
  // "(n) Scan parquet" detail headers only
  private def scanCount(p: String): Int =
    p.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet\s*.*"""))

  test("q119: blocklist scrub is map-only — no shuffle before the output sort") {
    val p = plan(q("q119_blocklist_scrub"))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(scanCount(p) == 1, p)
  }

  test("q121: LATERAL decorrelates to ONE aggregate join — no per-row re-execution") {
    val p = plan(q("q121_lateral_topk"))
    // the correlated subquery became a plain aggregate below a join (no
    // nested-loop re-evaluation): the FACT side scans exactly once — the
    // third scan is the tiny part-key domain Spark adds so count(*) can
    // return 0 for parts with no lineitems
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) == 1, p)
    assert(scanCount(p) == 3, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q125: PQ codebook broadcasts; corpus scans once") {
    val p = plan(q("q125_pq_encode"))
    assert(p.contains("BroadcastExchange"), p)
    assert(scanCount(p) == 2, p) // corpus + codebook subset
    assert(!p.contains("CartesianProduct"), p) // broadcast NL join is the codebook fan-out
  }

  test("q117: one exploded corpus scan (window c(t)), map-only normalizer, broadcast totals") {
    val p = plan(q("q117_unigram_surprisal"))
    // 2 scans total: the exploded pass + the column-pruned N scalar —
    // the vocab-join formulation this replaced needed 3
    assert(scanCount(p) == 2, p)
    assert(p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q135: ER verify runs the native jaro_winkler inside codegen over a broadcast canon") {
    val df = q("q135_jaro_winkler")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.linesIterator.exists(l =>
      l.contains("*(") && l.toLowerCase.contains("jarowinkler")))
    assert(executed.contains("BroadcastNestedLoopJoin") ||
      executed.contains("BroadcastExchange"), executed)
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[graft.functions.JaroWinkler]))
  }

  test("q140/q142: PrefixSum cell windows — no whole-block/source partition; q140's neighbor probe is an equi-join") {
    val p140 = plan(q("q140_sorted_neighborhood"))
    assert(p140.contains("__pc"), p140) // in-(blk, cell) rank, hot blocks split
    assert(p140.contains("__npos"), p140) // lead(i) ≡ equi-join on (blk, pos+i)
    assert(!p140.contains("CartesianProduct"), p140)
    val p142 = plan(q("q142_topp_nucleus"))
    assert(p142.contains("__pc"), p142)
    assert(p142.contains("BroadcastHashJoin"), p142) // 20-row per-source totals
    assert(!p142.contains("CartesianProduct"), p142)
  }

  test("q137/q139/q141: per-group stats tables broadcast back (no shuffle join)") {
    Seq("q137_mad_outliers", "q139_winsorize", "q141_dsir_weights").foreach { name =>
      val p = plan(q(name))
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$name: stats join did not broadcast\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name: unexpected shuffle join\n$p")
    }
  }

  test("q144: rank iteration is driver-side over the bounded edge collect — readout is a LocalTableScan, no joins") {
    // r16: the nation-graph rounds run on the driver (TinyGraph decision
    // rule — dimension-bounded state); the distributed fact rollup is an
    // EAGER phase, so the served plan is just the bounded readout
    val p = plan(q("q144_pagerank"))
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q145: ER capstone candidates come from PrefixSum positions + an adjacency equi-join") {
    val p = plan(q("q145_er_pipeline"))
    assert(p.contains("__pc"), p) // in-(blk, cell) rank — no whole-block window
    assert(p.contains("__npos"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q147: each BPE round's argmax is a TakeOrderedAndProject broadcast into the fold") {
    val p = plan(q("q147_bpe_merges"))
    assert(p.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 4, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q148: erasure cascade is broadcast semi/anti joins — no fact-side shuffle join") {
    val p = plan(q("q148_cascade_delete"))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q149: overlap matrix has no cartesian stage; per-source totals broadcast") {
    val p = plan(q("q149_overlap_matrix"))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q153: BFS rounds are driver-side over the bounded edge collect — readout is a LocalTableScan, no joins") {
    val p = plan(q("q153_bfs_hops"))
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q154: triangle closure probes broadcast; per-vertex credits broadcast — no SMJ") {
    val p = plan(q("q154_triangles"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q155: prefix-filtered join is equi-joins only — no cartesian stage") {
    val p = plan(q("q155_prefix_join"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q158: marginal joins are token-keyed equi-joins; only scalar totals broadcast") {
    val p = plan(q("q158_pmi_collocations"))
    assert(!p.contains("CartesianProduct"), p)
    // the two 1-row totals must arrive via broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q159: all 10 EWMA lags share ONE Window node — a single shuffle on user_id") {
    val p = plan(q("q159_ewma"))
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q160: LPA rounds are driver-side over the bounded edge collect — readout is a LocalTableScan, no joins") {
    val p = plan(q("q160_label_prop"))
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q161: per-source stats broadcast back onto rows; percent_rank from the rollup PrefixSum") {
    val p = plan(q("q161_score_calibrate"))
    // ranks live on the (source, n_chars) frequency rollup (length-domain
    // saturating), never on a `PARTITION BY source` window over raw docs
    assert(p.contains("__pc"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BuildRight"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 2, p)
  }

  test("q162: FD audit is pure aggregation — no join anywhere in the plan") {
    val p = plan(q("q162_fd_check"))
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q163: all-source BFS is driver-side over the bounded edge collect — readout is a LocalTableScan, no joins") {
    val p = plan(q("q163_harmonic_centrality"))
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q164: a-priori prune is a semi-join; marginals and totals broadcast") {
    val p = plan(q("q164_brand_pairs"))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q165: skyline is sort-based — one window over per-price groups, no dominance self-join") {
    val p = plan(q("q165_skyline"))
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 1, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q166: single-pass — two windows over the hourly relation, no join, one scan") {
    val p = plan(q("q166_seasonal_decomp"))
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 2, p)
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Scan parquet\\s*")) == 1, p)
  }

  test("q167: transition totals and vocabulary broadcast — no shuffle join") {
    val p = plan(q("q167_markov_transitions"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q168: interval merge is windows + one agg — no join anywhere") {
    val p = plan(q("q168_interval_merge"))
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 2, p)
  }

  test("q169: sliding distinct is fan-out + one agg off the Ckpt'd membership — no self-join") {
    val p = plan(q("q169_sliding_distinct"))
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("Generate"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q170: snapshot diff is two argmax windows + one key-colocated full join") {
    val p = plan(q("q170_snapshot_diff"))
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 2, p)
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q171: weighted median runs the cumulative weight through PrefixSum; 3-row totals broadcast") {
    val p = plan(q("q171_weighted_median"))
    // two PrefixSum windows (subtotal offsets + in-(rf, cell)) — never a
    // `PARTITION BY rf` running sum over raw lineitem (N/3 single task)
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 2, p)
    assert(p.contains("__pc"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q172: RFM quintiles run as distributed exactNtile (partitioned cells + broadcast offsets)") {
    // three Quantiles.exactNtile passes: each contributes one CELL-
    // partitioned window (never partition-less over the data-sized
    // customer relation — BatteryPlanSpec enforces this globally) and a
    // broadcast join of the ≤cells-row offset relation
    val p = plan(q("q172_rfm"))
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 3, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q173: apportionment windows run over the groups-sized relation; totals broadcast") {
    val p = plan(q("q173_largest_remainder"))
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q174: dimension joins broadcast; both share levels from two windows, no re-agg") {
    val p = plan(q("q174_ratio_to_report"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 2, p)
  }

  test("q175: TWAP is one lead window + one agg over a single user shuffle — no join") {
    val p = plan(q("q175_twap"))
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q176: post-checkpoint degree joins broadcast; scalar combines are BNLJ — no SMJ") {
    val p = plan(q("q176_graph_profile"))
    // the edge list is checkpointed; everything downstream joins a
    // vertex-sized degree relation (broadcast) or a 1-row scalar (BNLJ)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q177: one ancestor explode + one agg + one bounded window — join-free rollup") {
    val p = plan(q("q177_hierarchy_rollup"))
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Generate.*")) == 1, p)
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 1, p)
    // the report bound caps the aggregate at 999 groups; root shares must
    // NOT re-derive the measure via a self-join (one orders scan total) —
    // the ONLY join is the broadcast customer⋈orders that builds the measure
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Scan parquet.*")) == 2, p) // customer + orders
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) BroadcastHashJoin.*")) == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q178: one months explode, integer-space agg, total via window — join-free") {
    val p = plan(q("q178_interval_proration"))
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Generate.*")) == 1, p)
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window")) == 1, p)
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Scan parquet.*")) == 1, p) // orders once
    assert(!p.contains("Join"), p)
  }

  test("Graft.registerAll wires the whole SQL function surface in one call") {
    Graft.registerAll(spark)
    val r = spark.sql(
      """SELECT
        |  vec_dot(CAST(array(1.0,2.0) AS array<double>),
        |          CAST(array(3.0,4.0) AS array<double>)) AS d,
        |  classify_wind(10.0) AS w,
        |  (SELECT mode_det(v) FROM VALUES ('a'),('b'),('a') t(v)) AS m
        |""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getString(1) == "Light Air")
    assert(r.getString(2) == "a")
  }

  test("GraftExtensions registers vec_dot for SQL on extension-enabled sessions") {
    // the shared test session lacks the extension; simulate registration
    graft.functions.VectorExpressions.register(spark)
    val out = spark.sql(
      s"SELECT vec_dot(CAST(array(1.0,2.0) AS array<double>), CAST(array(3.0,4.0) AS array<double>)) AS d")
      .head().getDouble(0)
    assert(out == 11.0)
  }

  test("q179: spatial join is a cell equi-join — never a cartesian pair enumeration") {
    val p = plan(q("q179_spatial_join"))
    assert(p.contains("Generate"), p) // the 9-cell neighborhood explode
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q180/q182/q183/q185: window-over-agg shapes stay join-free") {
    for (name <- Seq("q180_cusum_drift", "q182_event_paths", "q183_welch_ttest",
        "q185_attribution")) {
      val p = plan(q(name))
      assert(p.contains("Window"), s"$name: $p")
      assert(!p.contains("Join"), s"$name must not join: $p")
    }
  }

  test("q187: input ranks via PrefixSum cells; the fused top-5 rank-prunes with WindowGroupLimit") {
    val p = plan(q("q187_rrf_fusion"))
    assert(p.contains("__pc"), p) // r1/r2 never window raw docs by `source`
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q181: inverted index is Generate → partial agg; single scan, no join") {
    val p = plan(q("q181_inverted_index"))
    assert(p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
    // partial-then-final agg around the (tok, doc) shuffle
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("q184: the 45-row digit dimension broadcasts onto the counts") {
    val df = q("q184_benford")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin") ||
      executed.contains("BroadcastExchange"), executed)
  }

  test("q188: PIT join stays an entity-keyed equi-join — interval predicate never degrades it") {
    val p = plan(q("q188_pit_join"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q189: KM curve windows run after user-sized aggs; the corpus-end scalar broadcasts") {
    val p = plan(q("q189_kaplan_meier"))
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q190: the 100-row quantile grid broadcasts onto the per-source cells") {
    val df = q("q190_quantile_normalize")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin") ||
      executed.contains("BroadcastExchange"), executed)
  }

  test("q191: bootstrap is a map-side Generate into partial agg; no cartesian") {
    val p = plan(q("q191_bootstrap_ci"))
    assert(p.contains("Generate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("q192/q193: contingency and AUC stay one-scan shapes (windows over aggregates)") {
    val p192 = plan(q("q192_chi2_independence"))
    assert(p192.contains("Window"), p192)
    assert(!p192.contains("CartesianProduct"), p192) // tiny distinct×distinct grid broadcasts
    val p193 = plan(q("q193_auc_rank"))
    assert(p193.contains("Window"), p193)
    assert(!p193.contains("Join"), p193)
  }

  test("q194: the day-7 calendar self-join broadcasts at runtime") {
    val df = q("q194_forecast_backtest")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin") ||
      executed.contains("BroadcastExchange"), executed)
  }

  test("q195: triangle enumeration is equi-joins over the deduped edge relation") {
    val p = plan(q("q195_triangles"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q196/q199: info-theory and SPC shapes — windows over aggregates, no cartesian") {
    for (name <- Seq("q196_mutual_info", "q199_control_chart")) {
      val p = plan(q(name))
      assert(p.contains("Window") || p.contains("HashAggregate"), s"$name: $p")
      assert(!p.contains("CartesianProduct"), s"$name: $p")
    }
  }

  test("q197: FK audit arms join key-level aggregates, never raw fact rows") {
    val p = plan(q("q197_fk_audit"))
    // every child relation is hash-aggregated to key counts BEFORE the
    // parent join: the joins must sit above HashAggregates, and no
    // cartesian/BNLJ may appear
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 8, p)
  }

  test("q198: within-bucket lags partition; the cross-bucket predecessor max is PrefixSum — no data-sized global window") {
    val p = plan(q("q198_id_gaps"))
    assert(p.contains("Window"), p)
    assert(p.contains("__pc"), p) // exclusiveMaxLong cells over the bucket rollup
    assert(!p.contains("SortMergeJoin"), p) // offsets broadcast (≤cells rows)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q200/q201: calendar-bounded series joins broadcast at runtime") {
    for (name <- Seq("q200_rolling_median", "q201_cross_correlation")) {
      val df = q(name)
      df.collect()
      val executed = df.queryExecution.executedPlan.toString
      assert(executed.contains("BroadcastHashJoin") ||
        executed.contains("BroadcastExchange"), s"$name: $executed")
    }
  }

  test("q202/q203: burst is join-free; lift deciles run as distributed exactNtile") {
    val p202 = plan(q("q202_burst_detect"))
    assert(p202.contains("Window"), p202)
    assert(!p202.contains("Join"), p202)
    // q203's decile assignment is Quantiles.exactNtile (cell-partitioned
    // window + broadcast offsets — no partition-less window over the
    // data-sized documents relation); cumulative windows see only the
    // 10-row decile rollup
    val p203 = plan(q("q203_lift_curve"))
    assert(p203.contains("Window"), p203)
    assert(!p203.contains("SortMergeJoin"), p203)
    assert(!p203.contains("CartesianProduct"), p203)
    assert(p203.contains("BroadcastHashJoin"), p203)
  }

  test("q204: hotspot neighborhoods come from a lattice equi-join, never a distance cross product") {
    val df = q("q204_hotspots")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(!executed.contains("CartesianProduct"), executed)
    assert(executed.contains("BroadcastHashJoin") ||
      executed.contains("BroadcastExchange"), executed)
  }

  test("q205: ER sweep joins only on the blocking key (no all-pairs scoring)") {
    val p = plan(q("q205_er_prf"))
    assert(!p.contains("CartesianProduct"), p)
    // the threshold fan-out is a Generate over the scored candidates
    assert(p.contains("Generate"), p)
  }

  test("q206: SPRT is one agg + ordered prefix windows, join-free") {
    val p = plan(q("q206_sprt"))
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("q207: interval overlap join is a cell equi-join — never an interval cross product") {
    val p = plan(q("q207_interval_join"))
    assert(p.contains("Generate"), p) // both sides explode to day cells
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q208: waterfall boundary months broadcast; windows run over the groups relation") {
    val df = q("q208_waterfall")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastExchange"), executed)
    assert(executed.contains("Window"), executed)
  }

  test("q209/q210: profiler and matrix are one-scan shapes — Generate/moments, no rescans") {
    val p209 = plan(q("q209_column_profile"))
    assert(p209.contains("Generate"), p209) // the unpivot explode
    assert(!p209.contains("Join"), p209)
    // formatted plans list each node twice (tree + details); count the
    // numbered detail headers for the true operator count
    assert(p209.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1,
      "profiler must read lineitem exactly once: " + p209)
    val p210 = plan(q("q210_corr_matrix"))
    assert(!p210.contains("CartesianProduct"), p210)
    // ten moment sums come from ONE aggregate; the union arms reuse it
    assert(p210.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) <= 6, p210)
  }

  test("q211/q212: proportion CI and growth curve are join-free single-agg shapes") {
    for (name <- Seq("q211_wilson_ci", "q212_cumulative_uniques")) {
      val p = plan(q(name))
      assert(!p.contains("Join"), s"$name: $p")
    }
  }

  test("q213: the 25-vertex centroid pairing broadcasts (bounded all-pairs by design)") {
    val df = q("q213_haversine")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastNestedLoopJoin") ||
      executed.contains("BroadcastExchange"), executed)
  }

  test("q214: multi-touch pairing is an entity-keyed equi-join (q188's PIT pattern)") {
    val p = plan(q("q214_linear_attribution"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("q204/q208/q212: every GLOBAL window runs over an aggregated (bounded) relation") {
    // these queries use Window.partitionBy() — safe ONLY because the
    // windowed relation is calendar/lattice-bounded. Pin that invariant
    // structurally: each empty-partition WindowExec must have an
    // aggregate beneath it (its input is a grouped rollup, never a
    // data-sized raw scan), so a future edit can't silently move the
    // global window onto an unbounded relation.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // AQE wraps finished stages in leaf QueryStageExec nodes, so a plain
    // collect() stops at stage boundaries — pierce them explicitly
    def hasAgg(p: SparkPlan): Boolean = planNodes(p).exists {
      case _: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec => true
      case _ => false
    }
    for (name <- Seq("q204_hotspots", "q208_waterfall", "q212_cumulative_uniques")) {
      val df = q(name)
      df.collect()
      val all = planNodes(df.queryExecution.executedPlan)
      val globals = all.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(globals.nonEmpty, s"$name: expected a global window in\n${all.head}")
      globals.foreach { w =>
        assert(hasAgg(w.child),
          s"$name: global window over a NON-aggregated relation:\n${w.child}")
      }
    }
  }

  test("q215: skew advisor plans TakeOrderedAndProject over ONE agg (no global sort)") {
    val p = plan(q("q215_skew_advisor"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q216/q219: moment profile and feature hash are join-free one-scan aggs") {
    for (name <- Seq("q216_higher_moments", "q219_feature_hash")) {
      val p = plan(q(name))
      assert(!p.contains("Join"), s"$name must not join: $p")
      assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1,
        s"$name must read its table exactly once: $p")
    }
  }

  test("q217: the calendar-bounded pair self-join broadcasts at runtime") {
    val df = q("q217_mann_kendall")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin") ||
      executed.contains("BroadcastExchange"), executed)
    assert(!executed.contains("CartesianProduct"), executed)
  }

  test("q218: cardinality prediction comes from per-key aggs, not a cross product") {
    val p = plan(q("q218_join_cardinality"))
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row profile aggregates combine via broadcast nested loop —
    // bounded by construction; the key-count joins stay equi-joins
    assert(p.contains("HashAggregate"), p)
  }

  test("q220: position attribution joins entity-keyed with window positions (no cross product)") {
    val p = plan(q("q220_position_attribution"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("q221: every k-core peel round joins against a broadcast kept-vertex set") {
    val df = q("q221_kcore")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(!executed.contains("CartesianProduct"), executed)
    assert(executed.contains("BroadcastHashJoin") ||
      executed.contains("BroadcastExchange"), executed)
  }

  test("q222/q223: WoE binning and IPF raking stay equi/broadcast-joined (no cross product)") {
    for (name <- Seq("q222_woe_iv", "q223_ipf_raking")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct"), s"$name: $p")
      assert(p.contains("Window"), s"$name: $p")
    }
  }

  test("q224: diversity indices are a join-free one-scan shape") {
    val p = plan(q("q224_diversity"))
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
  }

  test("q225: basket pair join is an equi-join; item supports broadcast (no item×item cross)") {
    val p = plan(q("q225_assoc_rules"))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // pair counts + item supports + basket distinct are all hash aggs
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4, p)
  }

  test("q226: only the cell agg touches data — pair join runs on the tiny grid, no cross product of docs") {
    val p = plan(q("q226_js_divergence"))
    assert(!p.contains("CartesianProduct"), p)
    // exactly one documents scan feeding one partial-then-final cell agg
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
  }

  test("q227: brier calibration is join-free — one user agg, bounded-bin windows") {
    val p = plan(q("q227_brier_calibration"))
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
  }

  test("q228: OLS trend is join-free, two stacked hash aggs over one scan") {
    val p = plan(q("q228_ols_trend"))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 3, p)
  }

  test("q229: vocabulary head is TakeOrderedAndProject — never a global sort of the vocab") {
    val p = plan(q("q229_zipf_fit"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q230: Holt fold is join-free — the recurrence runs inside the per-flag aggregate") {
    val p = plan(q("q230_holt_smoothing"))
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("q231: NDCG aggregates lineitem BEFORE the catalog join; windows stay brand-partitioned") {
    val p = plan(q("q231_ndcg"))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
    // the event-sized relation is reduced to part-keyed counts pre-join
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 3, p)
  }

  test("q232: Theil–Sen pair join broadcasts the day-sized relation at runtime") {
    val df = q("q232_theil_sen")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastExchange"), executed)
    assert(!executed.contains("CartesianProduct"), executed)
  }

  test("q233/q234: CUPED and DiD are join-free — one events agg, bounded-relation windows") {
    for (name <- Seq("q233_cuped", "q234_did")) {
      val p = plan(q(name))
      assert(!p.contains("Join"), s"$name: $p")
      assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1,
        s"$name: $p")
    }
  }

  test("q235/q236/q237: power grid, Qini, and kappa keep the data pass to one scan") {
    // q235 is join-free; q236's per-user deciles run as distributed
    // exactNtile (broadcast offsets join, cell-partitioned window);
    // q237's only join is the broadcast 1-row median scalar
    val p235 = plan(q("q235_power_mde"))
    assert(!p235.contains("Join"), p235)
    assert(p235.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p235)
    val p236 = plan(q("q236_qini_curve"))
    assert(!p236.contains("SortMergeJoin"), p236)
    assert(!p236.contains("CartesianProduct"), p236)
    assert(p236.contains("BroadcastHashJoin"), p236)
    val pk = plan(q("q237_cohens_kappa"))
    assert(!pk.contains("CartesianProduct"), pk)
  }

  test("q238: retrieval metrics broadcast queries and label relations (corpus streams once)") {
    val p = plan(q("q238_retrieval_metrics"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q239: log-rank joins are entity-keyed; corpus-end scalar broadcasts") {
    val p = plan(q("q239_logrank"))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q240: leakage audit — one documents scan feeds both strategies via explode") {
    val p = plan(q("q240_split_leakage"))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) <= 2, p)
    assert(p.contains("Generate"), p)
  }

  test("q241/q242/q243: FDR, regression impute, and EMD stay join-free hash-agg shapes") {
    val p241 = plan(q("q241_bh_fdr"))
    assert(!p241.contains("Join"), p241)
    assert(p241.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 2, p241)
    val p242 = plan(q("q242_regression_impute"))
    assert(!p242.contains("Join"), p242)
    assert(p242.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p242)
    // q243's shared grid bounds come from a broadcast scalar agg (one
    // extra documents scan) instead of a partition-less min/max window
    // over the raw relation — two parallel scans beat one single-task
    // window at any scale
    val p243 = plan(q("q243_emd_drift"))
    assert(!p243.contains("SortMergeJoin"), p243)
    assert(p243.contains("BroadcastNestedLoopJoin") || p243.contains("BroadcastExchange"), p243)
    assert(p243.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 2, p243)
  }

  test("q244/q245/q246: Neyman, bloom advisor, and hash ring keep bounded-dim joins only") {
    val p244 = plan(q("q244_neyman_allocation"))
    assert(!p244.contains("CartesianProduct"), p244)
    assert(p244.contains("BroadcastHashJoin"), p244)
    val p245 = plan(q("q245_bloom_fpr"))
    assert(!p245.contains("Join"), p245)
    // q246: the 256-point ring is a broadcast literal dimension; each key
    // scans it map-side and min-aggregates immediately (never a shuffle of
    // a keys×ring product)
    val p246 = plan(q("q246_consistent_hashing"))
    assert(!p246.contains("CartesianProduct"), p246)
    assert(p246.contains("BroadcastNestedLoopJoin"), p246)
    assert(p246.linesIterator.count(_.contains("HashAggregate")) >= 2, p246)
  }

  test("q247/q248: SRM and mix decomposition are one-scan shapes") {
    for (name <- Seq("q247_srm_check", "q248_mix_decomposition")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct"), s"$name: $p")
      assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1,
        s"$name: $p")
    }
  }

  test("q249/q250/q251: SQL-surface shapes broadcast dims; Q22 plans a real anti-join") {
    assert(plan(q("q249_sql_q7")).contains("BroadcastHashJoin"))
    val p250 = plan(q("q250_sql_q8"))
    assert(p250.contains("BroadcastHashJoin") && !p250.contains("CartesianProduct"), p250)
    val p251 = plan(q("q251_sql_q22"))
    assert(p251.contains("LeftAnti"), p251)
  }

  test("q252/q253: silhouette is an N×C broadcast scan (no pairwise); FD histogram broadcasts scalars") {
    val p252 = plan(q("q252_silhouette"))
    // the only nested-loop is the broadcast centroid set — never a
    // corpus×corpus product
    assert(p252.contains("BroadcastNestedLoopJoin") || p252.contains("BroadcastExchange"), p252)
    assert(!p252.contains("SortMergeJoin"), p252)
    val p253 = plan(q("q253_fd_histogram"))
    assert(!p253.contains("SortMergeJoin"), p253)
    assert(p253.contains("BroadcastNestedLoopJoin") || p253.contains("BroadcastExchange"), p253)
  }

  test("q254/q255: weighted reservoir is TakeOrdered; outlier screen broadcasts its scalar") {
    val p254 = plan(q("q254_weighted_reservoir"))
    assert(p254.contains("TakeOrderedAndProject"), p254)
    assert(!p254.contains("Join"), p254)
    val p255 = plan(q("q255_rate_outliers"))
    assert(!p255.contains("SortMergeJoin"), p255)
    assert(p255.contains("BroadcastNestedLoopJoin") || p255.contains("BroadcastExchange"), p255)
  }

  test("q257-q262: round-9 TPC-H shapes keep canonical plan structure") {
    // Q10: star joins broadcast + top-20 as TakeOrdered
    val p257 = plan(q("q257_sql_q10"))
    assert(p257.contains("TakeOrderedAndProject") &&
      p257.contains("BroadcastHashJoin"), p257)
    // Q13: the ON-filtered outer join survives as an outer join (a WHERE
    // rewrite would plan Inner)
    assert(plan(q("q258_sql_q13")).contains("LeftOuter") ||
      plan(q("q258_sql_q13")).contains("RightOuter"), plan(q("q258_sql_q13")))
    // Q19: the shared p_partkey conjunct is extracted from the
    // disjunction — an equi hash join, never a cartesian
    val p261 = plan(q("q261_sql_q19"))
    assert((p261.contains("BroadcastHashJoin") || p261.contains("ShuffledHashJoin") ||
      p261.contains("SortMergeJoin")) && !p261.contains("CartesianProduct"), p261)
    // Q21: EXISTS/NOT EXISTS decorrelate to semi/anti joins on l_orderkey
    val p262 = plan(q("q262_sql_q21"))
    assert(p262.contains("LeftSemi") && p262.contains("LeftAnti") &&
      !p262.contains("CartesianProduct"), p262)
  }

  test("q264/q265/q268: bounded-relation iteration plans stay join-sane") {
    // isotonic: the O(B²)/O(B³) work joins 20-row frames — broadcast,
    // never a shuffled corpus join
    val p264 = plan(q("q264_isotonic"))
    assert(!p264.contains("SortMergeJoin"), p264)
    // changepoint: one ordered window + broadcast totals, no self-join
    // of the daily series
    val p265 = plan(q("q265_changepoint"))
    assert(!p265.contains("SortMergeJoin") && !p265.contains("CartesianProduct"),
      p265)
    // markov attribution: the 24-step absorption is ONE aggregate HOF
    // over ≤5 rows — no per-iteration join chain (the step sequence
    // constant-folds to an UnsafeArrayData literal in the plan text)
    val p268 = plan(q("q268_markov_attribution"))
    assert(p268.contains("element_at(aggregate("), p268.take(2000))
  }

  test("q270/q272/q273: sequential walks run as HOF folds, not driver loops") {
    // each plans exactly one aggregate(...) fold over a per-group array;
    // no iterative join scaffolding, no recursion in the physical plan
    Seq("q270_ffd_compaction", "q272_capped_balance", "q273_order_matching")
      .foreach { name =>
        val p = plan(q(name))
        assert(p.contains("aggregate("), s"$name: $p")
        assert(!p.contains("CartesianProduct"), s"$name: $p")
      }
  }

  test("q186: the calendar-bounded daily self-join broadcasts at runtime") {
    val df = q("q186_autocorr")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin") ||
      executed.contains("BroadcastExchange"), executed)
  }

  test("q275-q282: the closing TPC-H shapes keep canonical plan structure") {
    // Q1: one partial-aggregated scan, no join anywhere
    val p275 = plan(q("q275_sql_q1"))
    assert(p275.contains("HashAggregate") && !p275.contains("Join"), p275)
    // Q6: the shipdate/discount/quantity predicates reach the parquet scan
    val p277 = plan(q("q277_sql_q6"))
    assert(p277.contains("PushedFilters") && p277.contains("l_shipdate"), p277)
    assert(!p277.contains("Join"), p277)
    // Q2: the correlated MIN subquery decorrelates — equi joins only
    val p276 = plan(q("q276_sql_q2"))
    assert(!p276.contains("CartesianProduct"), p276)
    // Q9: the dim chain broadcasts; never a cartesian
    val p278 = plan(q("q278_sql_q9"))
    assert(p278.contains("BroadcastHashJoin") &&
      !p278.contains("CartesianProduct"), p278)
    // Q11: the global threshold is a scalar subquery evaluated once
    val p279 = plan(q("q279_sql_q11"))
    assert(p279.contains("Subquery") && !p279.contains("CartesianProduct"), p279)
    // Q16: the NOT IN blocklist plans as an anti join
    val p281 = plan(q("q281_sql_q16"))
    assert(p281.contains("LeftAnti"), p281)
    // Q20: both nested INs decorrelate to semi joins
    val p282 = plan(q("q282_sql_q20"))
    assert(p282.contains("LeftSemi") && !p282.contains("CartesianProduct"), p282)
  }

  test("q283-q288: rank/CF/link-prediction/jackknife shapes stay keyed") {
    // Spearman: tie-averaged ranks from the (g, value) frequency rollup
    // through PrefixSum, equi-joined back — never a `PARTITION BY g`
    // rank window over raw lineitem (N/3 single task)
    val p283 = plan(q("q283_spearman"))
    assert(p283.contains("__pc"), p283)
    assert(!p283.contains("CartesianProduct") &&
      !p283.contains("BroadcastNestedLoopJoin"), p283)
    // item CF: every join is equi (u, then pa/pb); the per-part top-k is
    // a window, and nothing degenerates to a cartesian
    val p284 = plan(q("q284_item_cf"))
    assert(!p284.contains("CartesianProduct") &&
      !p284.contains("BroadcastNestedLoopJoin"), p284)
    assert(p284.contains("RunningWindowFunction") || p284.contains("Window"), p284)
    // Adamic-Adar: candidates only through the df-bounded part join
    val p285 = plan(q("q285_adamic_adar"))
    assert(!p285.contains("CartesianProduct") &&
      !p285.contains("BroadcastNestedLoopJoin"), p285)
    // jackknife: the 3-row group-totals relation broadcasts back to rows
    val p286 = plan(q("q286_jackknife"))
    assert(p286.contains("BroadcastHashJoin"), p286)
    // streaks: distinct + window + aggregate, top-50 as TakeOrdered
    val p287 = plan(q("q287_streaks"))
    assert(p287.contains("TakeOrderedAndProject") && !p287.contains("Join"), p287)
    // confusion: the only nested-loop is the broadcast 1-row macro scalar
    val p288 = plan(q("q288_confusion"))
    assert(!p288.contains("CartesianProduct"), p288)
  }

  test("q289-q292: attribution/CV/tau/session shapes stay bounded") {
    // Shapley: all lattice work on broadcast ≤16-row relations; the only
    // data-sized operations are the user aggregates
    val p289 = plan(q("q289_shapley_attribution"))
    assert(!p289.contains("CartesianProduct") &&
      !p289.contains("SortMergeJoin"), p289)
    // CV: one moment aggregate + fold windows — no join at all
    val p290 = plan(q("q290_cv_mse"))
    assert(!p290.contains("Join"), p290)
    // Kendall: the month-pair join broadcasts the calendar-bounded side
    val p291 = plan(q("q291_kendall_tau"))
    assert(p291.contains("BroadcastHashJoin") &&
      !p291.contains("CartesianProduct"), p291)
    // sessions: one user-keyed window chain, no join
    val p292 = plan(q("q292_bounce_sessions"))
    assert(!p292.contains("Join"), p292)
  }

  test("q293-q295: Croston fold, PCA scan-to-scalar, burstiness stay shaped") {
    // Croston: the walk is one aggregate HOF over per-part arrays —
    // no per-step joins, no driver loop
    val p293 = plan(q("q293_croston"))
    assert(p293.contains("aggregate(") && !p293.contains("CartesianProduct"), p293)
    // PCA: one moment aggregate to a single row; the 16 iterations fold
    // inside the row (no iteration joins of any kind)
    val p294 = plan(q("q294_pca_power"))
    assert(p294.contains("aggregate(") && !p294.contains("SortMergeJoin"), p294)
    // burstiness: explode → two keyed aggs; the only nested-loop is the
    // broadcast 1-row doc-count scalar
    val p295 = plan(q("q295_burstiness"))
    assert(!p295.contains("CartesianProduct") &&
      !p295.contains("SortMergeJoin"), p295)
  }

  test("q296: Holt-Winters runs as one fold over the calendar-bounded series") {
    val p296 = plan(q("q296_holt_winters"))
    assert(p296.contains("aggregate(") && !p296.contains("Join"), p296)
  }

  test("q297: triplet mining broadcasts the bounded anchor side") {
    val p297 = plan(q("q297_triplet_mining"))
    assert(p297.contains("BroadcastNestedLoopJoin") ||
      p297.contains("BroadcastExchange"), p297)
    assert(!p297.contains("SortMergeJoin"), p297)
  }

  test("q298-q300: blocking/containment/label-noise shapes stay keyed") {
    // blocking quality: candidate counts from block SIZES — no pair
    // relation is ever materialized for the RR side
    val p298 = plan(q("q298_blocking_quality"))
    assert(!p298.contains("CartesianProduct"), p298)
    // containment: shared-shingle equi-join only
    val p299 = plan(q("q299_containment"))
    assert(!p299.contains("CartesianProduct") &&
      !p299.contains("BroadcastNestedLoopJoin"), p299)
    // label noise: bounded anchors broadcast, corpus streams once
    val p300 = plan(q("q300_label_noise"))
    assert((p300.contains("BroadcastNestedLoopJoin") ||
      p300.contains("BroadcastExchange")) && !p300.contains("SortMergeJoin"), p300)
  }

  test("q301: episode pairs join on (user, hour-bucket) — keyed, never per-user cross") {
    val p301 = plan(q("q301_episode_mining"))
    assert(!p301.contains("CartesianProduct"), p301)
    assert(p301.contains("Generate"), p301) // the two-bucket probe explode
  }
}

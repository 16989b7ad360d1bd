package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.build()
    // untimed warm-up: JVM/codegen/parquet-reader init would otherwise be
    // billed to whichever query happens to run first (~4s of noise)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // Optional wall-clock budget (seconds). The r14/r15 driver artifacts
    // were both lost to host weather (one unlocalizable outlier, one
    // rc=124 timeout with zero output under the old buffer-then-print
    // structure); when the elapsed time crosses HALF the budget, the
    // remaining queries drop to reps=1 — a degraded-but-complete battery
    // beats a truncated one, and the artifact records the switch.
    val budgetSec = sys.env.get("SPARK_GRAFT_BUDGET_SEC").map(_.toDouble)
    // A query that throws must POISON the bench, not flatter it: the old
    // swallow-all catch timed a failing query at near-zero, so a
    // correctness regression would have LOWERED the total. Failures are
    // counted per query, reported in every summary line, and flip the
    // exit code.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // optional trailing args: bench only these queries (builder-side
    // iteration; the driver passes no args and times the full battery)
    val only = args.toSet
    val host0 = Host.sample()
    val t0Battery = System.nanoTime()
    var repsDropped = false
    var done = 0
    var runningTotal = 0.0
    // STREAMED output (round 16): each per-query line prints the moment
    // its reps finish, with a partial_total checkpoint every 25 queries —
    // so a driver timeout (r15: rc=124, parsed:null, NOTHING printed under
    // the old everything-at-the-end structure) leaves a parsable prefix
    // that localizes both coverage (how far the battery got) and cost
    // (what each completed query took). The combined/top20/total summary
    // lines still print LAST, so tail-capture consumers are unchanged.
    val results = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val elapsed = (System.nanoTime() - t0Battery) / 1e9
      val effReps =
        if (budgetSec.exists(b => elapsed > b / 2)) {
          if (!repsDropped) {
            repsDropped = true
            println(s"""{"metric":"reps_drop","after_sec":$elapsed,"done":$done,"reps":1}""")
          }
          1
        } else reps
      // min over reps: single-run VM noise is ±30%, which manufactures
      // phantom regressions; the min is the stable per-plan cost
      def oneRep(): Double = {
        val t0 = System.nanoTime()
        // noop sink materializes every row through the FULL plan —
        // .count() would let Catalyst prune projections and eliminate the
        // ORDER BYs, timing a much cheaper plan than Verify executes
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"BENCH FAIL $name: ${String.valueOf(e).take(300)}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      val times = scala.collection.mutable.ArrayBuffer.fill(effReps)(oneRep())
      // Stall-hardening extra reps (r17, per the r16 verdict's top item —
      // declared in OPTIMIZATION_r17.md): this box shows stochastic
      // multi-second HOST stalls (not GC — a full-battery GC log shows
      // zero Full GCs and max pauses ~0.1 s) that can inflate one rep
      // (spread trigger) or BOTH reps of one query (r16 driver: q293
      // 19.5 s min-of-2 vs 5.1 s isolated min-of-3; r17 baseline: q325
      // 7.4 s vs 3.8 s in an identical battery slice). Up to two extra
      // reps run when the measurement looks stall-contaminated; min over
      // all reps is unchanged as the statistic, extra draws only reject
      // stalls. Budget-degraded runs (reps already dropped to 1) skip
      // extras. No timed-region change: each rep is the same full
      // plan+execute as before.
      if (!repsDropped && effReps > 1) {
        var extra = 0
        def suspicious =
          times.min > 0.3 && (times.max / times.min > 3.0 ||
            (times.min > 2.5 && extra == 0))
        while (extra < 2 && suspicious && !failed.contains(name)) {
          times += oneRep()
          extra += 1
        }
      }
      val sec = times.min
      // Post-query block hygiene, OUTSIDE the timed region: localCheckpoint
      // blocks (Ckpt) from completed queries linger in the block manager
      // until the driver GCs their RDD handles — across 339 queries × 2
      // reps the storage pool pins gigabytes and the old-gen fills, which
      // shows up as multi-second GC stalls landing on RANDOM queries
      // (r16 measurement: q33 23.5 s min-of-2 in-battery vs 1.4 s
      // isolated; q152 19.3 vs 3.3 in the r16 baseline). No cross-rep
      // reuse exists to lose: each rep builds fresh RDDs, so dropping a
      // finished query's blocks only removes GC pressure. Timing is
      // unaffected by construction — this runs after the last rep's
      // nanoTime read.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      done += 1
      runningTotal += sec
      println(s"""{"query":"$name","sec":$sec}""")
      if (done % 25 == 0) {
        println(s"""{"metric":"partial_total","done":$done,"value":$runningTotal,"failures":${failed.size}}""")
        // cumulative host line at every checkpoint: a timed-out run's
        // truncated artifact still shows whether the box was contended
        println(Host.line("partial", host0, Host.sample()))
      }
      name -> sec
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Output ordering is deliberate: the driver captures the TAIL of
    // stdout, and the combined line alone is ~4 KB — with the headline
    // number at its head, truncation used to eat it (BENCH_r02/r03 both
    // recorded parsed:null). Emit the combined line first (the full
    // record when nothing truncates), then the top20 self-diagnosis and
    // host-health lines, then a compact total line LAST so the headline
    // always survives. Only the LAST line carries "metric":"total" — the
    // combined line is "total_detail" so grep-all consumers never
    // double-count and first-match/last-match parsers agree on the schema.
    println(s"""{"metric":"total_detail","value":$total,"unit":"sec","queries":$qs,"failures":${failed.size},"sf":"$sfDir"}""")
    // Self-diagnosis: the 20 slowest queries of THIS run. A total that
    // moves without these moving localizes a regression (or an
    // environmental outlier) from the stored artifact alone — the r14
    // driver total (639 s vs 402 s re-run) was unlocalizable because the
    // artifact kept only 38 arbitrary per-query lines.
    val top20 = results.toSeq.sortBy(-_._2).take(20)
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"top20_slowest","queries":$top20}""")
    println(Host.line("battery", host0, Host.sample()))
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failures":${failed.size},"reps_dropped":$repsDropped,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"bench had ${failed.size} failing queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}

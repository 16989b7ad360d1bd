package perfbench

import Main.Done

/** Per-layer metrics from a traced window. A layer's time in an op is the
  * self time of its spans in that op; each `_s` metric is the median of that
  * over the ops that entered the layer. Executor counters are per-op
  * medians of the work charged to the op's spans.
  */
object Layers {

  private def med(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  def metrics(wl: Workload, ctx: Ctx, ops: Seq[Done], windowS: Double, cores: Int,
      untraced: Seq[Done]): Map[String, Double] = {
    val tracer = ctx.tracer
    val opIds = ops.map(_.op.id).toSet
    val spans = tracer.spans.filter(s => opIds(s.opId))
    val self = tracer.selfNs
    val catalyst = tracer.catalystMs
    val byOp = spans.groupBy(_.opId)

    /** Median per-op self time of spans named `name`. */
    def layerS(name: String): Double = med(byOp.values.flatMap { ss =>
      val hit = ss.filter(_.name == name)
      if (hit.isEmpty) None else Some(hit.map(s => self(s.id)).sum / 1e9)
    })
    def counter(f: Counters => Double, only: String => Boolean = _ => true): Double =
      med(byOp.values.flatMap { ss =>
        val cs = ss.filter(s => only(s.name)).flatMap(s => Option(tracer.counters.get(s.id)))
        if (ss.exists(s => only(s.name))) Some(cs.map(f).sum) else None
      })
    val allCounters = spans.flatMap(s => Option(tracer.counters.get(s.id)))
    val opLatS = ops.map(_.latS).sum
    val catalystS = spans.map(s => catalyst.getOrElse(s.id, 0.0)).sum / 1e3
    val mb = 1024.0 * 1024.0

    val common = Map(
      "catalyst.plan_s" -> med(byOp.values.map(_.map(s => catalyst.getOrElse(s.id, 0.0)).sum / 1e3)),
      "catalyst.plan_frac" -> (if (opLatS > 0) catalystS / opLatS else 0.0),
      "spark.jobs" -> counter(_.jobs.toDouble),
      "spark.tasks" -> counter(_.tasks.toDouble),
      "spark.task_run_s" -> counter(_.runMs / 1e3),
      "spark.task_cpu_s" -> counter(_.cpuNs / 1e9),
      "spark.cpu_busy_frac" -> allCounters.map(_.cpuNs / 1e9).sum / (windowS * cores),
      "spark.shuffle_read_mb" -> counter(_.shuffleReadB / mb),
      "spark.shuffle_write_mb" -> counter(_.shuffleWriteB / mb),
      "spark.spill_mb" -> counter(_.spillB / mb),
      "spark.input_mb" -> counter(_.inputB / mb),
      "trace.overhead_s" -> overhead(ops, untraced)._1,
      "trace.overhead_frac" -> overhead(ops, untraced)._2)

    val specific: Map[String, Double] = wl match {
      case w: WeatherEtl =>
        val sinks = ops.map(d => w.sinkStats(ctx, d.op))
        Map(
          "weather.read_s" -> layerS("weather.read"),
          "ops.clean_s" -> layerS("ops.clean"),
          "ops.impute_s" -> layerS("ops.impute"),
          "ops.transform_s" -> layerS("ops.transform"),
          "ops.validate_s" -> layerS("ops.validate"),
          "ops.validate_jobs" -> counter(_.jobs.toDouble, _ == "ops.validate"),
          "ops.sink_s" -> layerS("ops.sink"),
          "ops.sink_files" -> med(sinks.map(_._1.toDouble)),
          "ops.sink_bytes_per_input_byte" -> med(sinks.map(_._2.toDouble / w.csvBytes)))
      case s: StarQueries =>
        def p50(q: String) = med(ops.filter(_.op.kind == q).map(_.latS))
        Map(
          "ivf.serve_s" -> p50(StarQueries.Serve),
          "ivf.build_s" -> s.buildS,
          "dedup.exact_s" -> p50("q35_dedup_exact"),
          "dedup.minhash_s" -> p50("q37_dedup_minhash"),
          "tables.load_s" -> layerS("tables.load"),
          "tables.load_calls" -> med(ops.map(d => s.scans.get(d.op.kind).map(_._2.toDouble).getOrElse(0.0)))) ++
          s.queries.map(q => s"queries.$q.p50_s" -> p50(q))
      case c: CorpusLlm =>
        Map(
          "ivf.serve_s" -> layerS("ivf.serve"),
          "ivf.refresh_s" -> layerS("ivf.refresh"),
          "ivf.build_s" -> c.buildS,
          "dedup.exact_s" -> layerS("dedup.exact"),
          "dedup.minhash_s" -> layerS("dedup.minhash"))
      case _ => Map.empty
    }
    common ++ specific
  }

  /** Tracing overhead: per op kind, traced minus untraced median latency,
    * weighted by the traced op counts; in seconds per op and as a share of
    * the untraced time.
    */
  def overhead(traced: Seq[Done], untraced: Seq[Done]): (Double, Double) = {
    val u = untraced.groupBy(_.op.kind).view.mapValues(ds => Stats.median(ds.map(_.latS))).toMap
    val pairs = traced.groupBy(_.op.kind).toSeq.collect {
      case (k, ds) if u.contains(k) => (ds.size, Stats.median(ds.map(_.latS)), u(k))
    }
    val n = pairs.map(_._1).sum
    if (n == 0) (0.0, 0.0)
    else {
      val diff = pairs.map { case (c, t, b) => c * (t - b) }.sum / n
      val base = pairs.map { case (c, _, b) => c * b }.sum / n
      (diff, if (base > 0) diff / base else 0.0)
    }
  }
}

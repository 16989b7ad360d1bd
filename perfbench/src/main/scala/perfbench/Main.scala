package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Steady-state benchmark run: one session, seeded inputs, untimed warm-up
  * of every op kind, then a timed window driven by one closed-loop client
  * (the next op starts when the previous one returns). The last stdout
  * line is the result JSON.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> [--work <dir>] [--out <dir>] [--expected <dir>]
  *          [--fixtures <dir>] [--record-expected <file>]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, expected: String, fixtures: String,
      recordExpected: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("work", "perfbench/.work"),
      m.getOrElse("out", "perfbench/.out"), m.getOrElse("expected", "perfbench/expected"),
      m.getOrElse("fixtures", "perfbench/.work/fixtures"), m.get("record-expected"))
  }

  object Jvm {
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  }

  /** One finished op of the stream. `error` is set when it threw. */
  final case class Done(op: Op, result: OpResult, latS: Double, error: Option[String], timed: Boolean)

  /** An op failed when it threw or its output check failed; it then
    * counts against the run and never as a (fast) latency sample.
    */
  def failed(d: Done, checked: Checked): Boolean = d.error.nonEmpty || checked.badOps(d.op.id)

  final case class Outcome(attempted: Long, failed: Long, correct: Boolean)

  /** Attempted and failed count the window's ops; the run is correct only
    * when no op at all (warm-up included) failed and the guards hold.
    */
  def outcome(all: Seq[Done], window: Seq[Done], checked: Checked): Outcome = {
    val f = window.count(failed(_, checked)).toLong
    Outcome(window.size.toLong, f, f == 0 && !all.exists(failed(_, checked)) && checked.guardsOk)
  }

  /** Fewest blocks in a timed window: on a slow host a single block would
    * leave one sample per kind, all of them from the second pass ever run.
    */
  val MinBlocks = 2

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val wl = Workload.byName(args.workload, args.expected, args.fixtures).getOrElse {
      System.err.println(s"unknown workload ${args.workload}; one of ${Workload.names.mkString(", ")}")
      sys.exit(2)
    }
    val procStartMs = ProcessHandle.current().info().startInstant().map[Long](_.toEpochMilli)
      .orElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    // one task slot per vCPU the process may use (run.py confines it to two)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - procStartMs) / 1e3
    val work = s"${args.work}/${wl.name}-${args.seed}-${ProcessHandle.current().pid()}"
    new java.io.File(work).mkdirs()
    new java.io.File(args.out).mkdirs()
    try run(spark, wl, args, work, cores, procStartMs, sessionS)
    finally {
      spark.stop()
      Workload.rmTree(work)
    }
  }

  private def run(spark: SparkSession, wl: Workload, args: Args, work: String,
      cores: Int, procStartMs: Long, sessionS: Double): Unit = {
    val plain = new Ctx(spark, work, args.seed, new Tracer(spark, enabled = false))

    // set-up: datagen, then the index, then warm-up
    val t0Gen = System.nanoTime()
    wl.datagen(plain)
    val datagenS = (System.nanoTime() - t0Gen) / 1e9
    val t0Index = System.nanoTime()
    wl.index(plain)
    val indexS = (System.nanoTime() - t0Index) / 1e9

    val stream = wl.ops(args.seed)
    val done = mutable.ArrayBuffer[Done]()
    def step(ctx: Ctx, timed: Boolean): Done = {
      val op = stream.next()
      ctx.tracer.beginOp(op.id)
      val t0 = System.nanoTime()
      val d = try Done(op, wl.run(ctx, op), (System.nanoTime() - t0) / 1e9, None, timed)
      catch {
        case e: Throwable => Done(op, OpResult(0), (System.nanoTime() - t0) / 1e9,
          Some(String.valueOf(e).take(300)), timed)
      }
      done += d
      d
    }

    val t0Warm = System.nanoTime()
    (1 to wl.warmupBlocks * wl.blockSize).foreach(_ => step(plain, timed = false))
    val warmupS = (System.nanoTime() - t0Warm) / 1e9
    val setupS = (System.currentTimeMillis() - procStartMs) / 1e3

    // timed window (the first half of it when tracing): whole blocks, as
    // many as fit the time best (one more while the window would otherwise
    // end more than half a block short), and never fewer than MinBlocks
    def window(ctx: Ctx, seconds: Double): (Seq[Done], Double) = {
      val from = done.size
      val t0 = System.nanoTime()
      var blocks = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (blocks < MinBlocks || elapsed + elapsed / blocks / 2 < seconds) {
        (1 to wl.blockSize).foreach(_ => step(ctx, timed = true))
        blocks += 1
      }
      (done.slice(from, done.size).toSeq, (System.nanoTime() - t0) / 1e9)
    }
    val host0 = graft.Host.sample()
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    val (timed, windowS) = window(plain, if (args.trace) args.seconds / 2 else args.seconds)
    val gcS = (Jvm.gcMs - gc0) / 1e3
    val jitMs = (Jvm.jitMs - jit0).toDouble
    val host = graft.Host.line("window", host0, graft.Host.sample())

    val traced = if (args.trace) {
      val tracer = new Tracer(spark, enabled = true)
      val ctx = new Ctx(spark, work, args.seed, tracer)
      val (ops, s) = window(ctx, args.seconds / 2)
      tracer.flush()
      tracer.close()
      Some((ctx, ops, s))
    } else None

    // output checks, outside every timed region
    val checked = wl.check(plain, done.filter(_.error.isEmpty).map(d => (d.op, d.result)).toSeq)
    def failedOp(d: Done) = Main.failed(d, checked)
    val Outcome(attempted, failed, correct) =
      outcome(done.toSeq, timed ++ traced.map(_._2).getOrElse(Nil), checked)
    val ok = timed.filterNot(failedOp)
    val lat = ok.map(_.latS)

    val p50 = if (lat.nonEmpty) Stats.median(lat) else 0.0
    val p90 = if (lat.nonEmpty) Stats.percentile(lat, 0.9) else 0.0
    // the gated latency: every kind weighs the same. A pooled median over
    // a mix of kinds jumps between the kinds whose latencies straddle it.
    val kindP50 = ok.groupBy(_.op.kind).view.mapValues(ds => Stats.median(ds.map(_.latS))).toMap
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> ok.map(_.result.rows).sum / windowS,
      "op_gmean_s" -> (if (lat.nonEmpty) Stats.geomean(kindP50.values.toSeq) else 0.0))

    val tag = s"${wl.name}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    val layers = traced.map { case (ctx, ops, s) =>
      ctx.tracer.writeJsonl(s"${args.out}/spans-$tag.jsonl")
      Layers.metrics(wl, ctx, ops.filterNot(failedOp), s, cores, timed.filterNot(failedOp)) ++ Map(
        "setup.session_s" -> sessionS, "setup.datagen_s" -> datagenS,
        "setup.index_s" -> indexS, "setup.warmup_s" -> warmupS,
        "jvm.gc_s" -> gcS, "jvm.jit_ms" -> jitMs,
        "op_p50_s" -> p50, "op_p90_s" -> p90, "op_count" -> timed.size.toDouble,
        "failed_frac" -> failed.toDouble / math.max(1L, attempted)) ++ checked.guards
    }

    args.recordExpected.foreach { path =>
      wl match {
        case s: StarQueries =>
          val w = new java.io.PrintWriter(path, "UTF-8")
          try {
            w.println("# query\trows\tdigest (sum of xxhash64 over all columns)")
            s.observed.toSeq.sortBy(_._1).foreach { case (q, (n, h)) => w.println(s"$q\t$n\t$h") }
          } finally w.close()
        case _ =>
      }
    }

    val kindCounts = (ds: Seq[Done]) => Report.obj(ds.groupBy(_.op.kind).toSeq.sortBy(_._1)
      .map { case (k, v) => k -> v.size })
    val meta = Report.obj(Seq(
      "workload" -> wl.name, "seed" -> args.seed, "cores" -> cores, "seconds" -> args.seconds,
      "trace" -> args.trace, "window_s" -> windowS,
      "inputs" -> Report.Raw(Report.obj(wl.inputSizes)),
      "warmup_ops" -> Report.Raw(kindCounts(done.filterNot(_.timed).toSeq)),
      "timed_ops" -> Report.Raw(kindCounts(timed)),
      "traced_ops" -> Report.Raw(kindCounts(traced.map(_._2).getOrElse(Nil))),
      "kind_p50_s" -> Report.Raw(Report.obj(kindP50.toSeq.sortBy(_._1))),
      "warmup_lat_s" -> Report.Raw(done.filterNot(_.timed).map(d => f"${d.latS}%.3f").mkString("[", ",", "]")),
      "timed_lat_s" -> Report.Raw(timed.map(d => f"${d.latS}%.3f").mkString("[", ",", "]")),
      "op_gmean_s" -> e2e("op_gmean_s"), "op_p50_s" -> p50, "op_p90_s" -> p90,
      "op_count" -> lat.size, "p90_samples_beyond" -> Stats.samplesBeyond(lat.size, 0.9),
      "tail_percentile" -> Stats.tailPercentile(lat.size).getOrElse(0.0),
      "setup" -> Report.Raw(Report.obj(Seq("session_s" -> sessionS,
        "datagen_s" -> datagenS,
        "index_s" -> indexS, "warmup_s" -> warmupS))),
      "jvm_gc_s" -> gcS, "jvm_jit_ms" -> jitMs,
      "host" -> Report.Raw(host),
      "guards" -> Report.Raw(Report.obj(checked.guards.toSeq.sortBy(_._1))),
      "errors" -> Report.Raw(done.flatMap(d => d.error.map(e => Report.str(s"op ${d.op.id} ${d.op.kind}: $e")))
        .take(5).mkString("[", ",", "]")),
      "check_notes" -> Report.Raw(checked.notes.map(Report.str).mkString("[", ",", "]"))))
    val metaLine = s"""{"perfbench_meta":$meta}"""
    val result = layers match {
      case Some(l) => Report.resultLine(correct, attempted, failed, Report.perLayer, l)
      case None => Report.resultLine(correct, attempted, failed, Report.endToEnd, e2e)
    }
    val w = new java.io.PrintWriter(s"${args.out}/run-$tag.json", "UTF-8")
    try { w.println(metaLine); w.println(result) } finally w.close()
    wl.cleanup(plain)
    println(metaLine)
    println(result)
  }
}

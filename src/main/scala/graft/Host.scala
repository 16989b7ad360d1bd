package graft

/** Host-health sampling for the measurement mains (Bench, BenchOne)
  * and perfbench's runs: one `/proc/stat` aggregate-cpu
  * sample before and after a run turns "was the box quiet?" into a field
  * IN the artifact instead of a forensic re-run. The round-14/15 bench
  * adjudications each burned a judge session proving an outlier was
  * hypervisor weather (19% steal mid-battery, 90% system time mid-sweep);
  * with a `{"metric":"host",...}` line in every artifact the next outlier
  * is adjudicable from the stored JSON alone.
  *
  * Jiffy deltas between two samples give the shares directly:
  *   - `steal_pct` — cycles the hypervisor withheld (contended VM; the
  *     r15 signature). >2–3% means wall-clock numbers are inflated.
  *   - `sys_pct` — kernel time across ALL host CPUs; a bench that should
  *     be user-dominated showing high system share means the box is busy
  *     with someone else's I/O (the r15 sf10 sweep saw 90%).
  *   - `idle_pct` / `user_pct` — sanity complements.
  * Reads are best-effort: on a box without /proc (or a parse surprise)
  * the line reports `"available":false` rather than failing the bench.
  */
object Host {

  /** Aggregate-cpu jiffy counters (the `cpu ` line of /proc/stat). */
  final case class Cpu(
      user: Long, nice: Long, sys: Long, idle: Long,
      iowait: Long, irq: Long, softirq: Long, steal: Long) {
    def total: Long = user + nice + sys + idle + iowait + irq + softirq + steal
  }

  def sample(): Option[Cpu] =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu "))
      line.flatMap { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        if (f.length >= 8) Some(Cpu(f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7)))
        else None
      }
    } catch { case _: Throwable => None }

  /** One JSON line summarizing the interval between two samples. `tag`
    * distinguishes multiple intervals in one artifact (e.g. "battery",
    * "warmup"); emit via println so it lands in the same stream as the
    * measurements it qualifies.
    */
  def line(tag: String, before: Option[Cpu], after: Option[Cpu]): String =
    (before, after) match {
      case (Some(a), Some(b)) if b.total > a.total =>
        val d = (b.total - a.total).toDouble
        def pct(x: Long) = f"${100.0 * x / d}%.1f"
        s"""{"metric":"host","tag":"$tag","steal_pct":${pct(b.steal - a.steal)},""" +
          s""""sys_pct":${pct(b.sys - a.sys)},"user_pct":${pct(b.user - a.user)},""" +
          s""""idle_pct":${pct(b.idle - a.idle)},"iowait_pct":${pct(b.iowait - a.iowait)}}"""
      case _ =>
        s"""{"metric":"host","tag":"$tag","available":false}"""
    }
}

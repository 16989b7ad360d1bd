package perfbench

/** The metric catalog (names and units, as BENCHMARK.json lists them) and
  * the JSON the benchmark prints.
  */
object Report {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "op_gmean_s" -> "s")

  private val layerFixed: Seq[(String, String)] = Seq(
    "tables.load_s" -> "s", "tables.load_calls" -> "count",
    "catalyst.plan_s" -> "s", "catalyst.plan_frac" -> "ratio",
    "weather.read_s" -> "s", "ops.clean_s" -> "s", "ops.impute_s" -> "s",
    "ops.transform_s" -> "s", "ops.validate_s" -> "s", "ops.validate_jobs" -> "count",
    "ops.sink_s" -> "s", "ops.sink_files" -> "count", "ops.sink_bytes_per_input_byte" -> "ratio",
    "ivf.serve_s" -> "s", "ivf.refresh_s" -> "s", "ivf.files_per_cell" -> "count",
    "ivf.recall_at_k" -> "ratio", "ivf.build_s" -> "s",
    "dedup.exact_s" -> "s", "dedup.minhash_s" -> "s", "dedup.pairs" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.cpu_busy_frac" -> "ratio",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
    "jvm.gc_s" -> "s", "jvm.jit_ms" -> "ms",
    "setup.session_s" -> "s", "setup.datagen_s" -> "s", "setup.index_s" -> "s",
    "setup.warmup_s" -> "s",
    "trace.overhead_s" -> "s", "trace.overhead_frac" -> "ratio",
    "op_p50_s" -> "s", "op_p90_s" -> "s", "op_count" -> "count", "failed_frac" -> "ratio")

  /** Per-layer metrics: the fixed set plus one p50 per star query. */
  val perLayer: Seq[(String, String)] =
    layerFixed ++ StarQueries.DefaultQueries.map(q => s"queries.$q.p50_s" -> "s")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The result line. Every catalog metric of the chosen set is present;
    * a metric with no value reads 0.
    */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      catalog: Seq[(String, String)], values: Map[String, Double]): String = {
    val ms = catalog.map { case (n, u) =>
      s"""${str(n)}:{"value":${num(values.getOrElse(n, 0.0))},"unit":${str(u)}}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }

  /** A flat JSON object of name -> value (numbers, strings or raw JSON). */
  def obj(fields: Seq[(String, Any)]): String = fields.map {
    case (k, v: Double) => s"${str(k)}:${num(v)}"
    case (k, v: Long) => s"${str(k)}:$v"
    case (k, v: Int) => s"${str(k)}:$v"
    case (k, v: Boolean) => s"${str(k)}:$v"
    case (k, Raw(json)) => s"${str(k)}:$json"
    case (k, v) => s"${str(k)}:${str(String.valueOf(v))}"
  }.mkString("{", ",", "}")

  final case class Raw(json: String)
}

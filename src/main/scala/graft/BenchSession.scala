package graft

import org.apache.spark.sql.SparkSession

/** Shared session builder for the builder-side measurement and generator
  * mains (BenchOne/BenchSet/BenchRecall/BenchDrift/BenchRefresh/
  * BenchServe, GenScale/GenClustered) — one place for the
  * local[cpus] + shuffle-width + UTC config they all repeated, and for
  * the scan-parallelism knob the sf10 sweeps need:
  *
  * `SPARK_GRAFT_MAX_PARTITION_BYTES` — Spark sizes file splits by BYTES
  * (`spark.sql.files.maxPartitionBytes`, default 128 MB), so a heavily
  * dictionary-encoded fixture reads on almost no tasks no matter how many
  * row groups it has: sf10's embeddings.parquet is 7.4 MB on disk for
  * 51 MB of vector data (~100× dictionary compression of the shift/flip
  * copies), which yields TWO scan tasks — the round-15 jstack finding that
  * serialized the first stage of every N^1.5 anchor build (q40/q302/q323)
  * onto 2 of 32 cores. Setting the knob (e.g. 262144 for ~30 splits of
  * that file) restores scan parallelism for the embedding sweeps;
  * `openCostInBytes` scales down with it so packing doesn't re-merge the
  * small splits. Deliberately an OPT-IN env var, not a default: the full
  * battery also scans multi-GB tables where a 256 KB split floor would
  * manufacture tens of thousands of tasks per stage. On a real cluster
  * the same lever is table layout — a 100 TB corpus arrives as many
  * files and never hits the one-tiny-file degeneracy.
  */
object BenchSession {
  def build(defaultCpus: String = "32"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES").foreach { v =>
      b = b.config("spark.sql.files.maxPartitionBytes", v)
        .config("spark.sql.files.openCostInBytes",
          math.max(4096L, v.toLong / 4).toString)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

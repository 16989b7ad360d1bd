package graft

import org.apache.spark.sql.SparkSession

/** The one session set-up of the mains (Bench, Verify, BenchOne,
  * GenScale, GenClustered): `local[cpus]` with as many shuffle partitions
  * as cores, UTC session time and no UI. `SPARK_GRAFT_CPUS` sets the core
  * count (default 4, the `local[4]` set-up of BASELINE.md).
  */
object LocalSession {
  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

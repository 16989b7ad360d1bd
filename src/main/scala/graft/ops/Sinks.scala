package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Sinks (S3/S4/S5). The reference lands single CSV files and appends into
  * SQLite inside transactions, with a column-rename pass
  * (v5_group_project_dag.py:291-365).
  *
  * Spark-native defaults: parquet directories, partitioned where the
  * downstream read pattern benefits. CSV `singleFile` (coalesce(1)) exists
  * only for byte-parity with the reference — never use it at scale.
  * The JDBC sink is config-gated (no JDBC driver jar is guaranteed in the
  * sandbox). A load of several tables goes through [[publishParquet]]: one
  * [[Publish]] commit, so a reader sees all of it or none of it, as the
  * reference's transactions give.
  */
object Sinks {

  /** P3: bulk rename before a relational sink (exact-case; the reference
    * relies on SQLite case-insensitivity to paper over a mismatch at
    * v5_group_project_dag.py:344 vs :313 — we do not).
    */
  def renamed(df: DataFrame, renames: Map[String, String]): DataFrame =
    renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  def csv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    d.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** All-or-nothing publish of several parquet tables under `outDir`
    * through [[Publish]]: each frame is staged as `<name>`, `accept` runs
    * once every write has landed (it throws to refuse), and then the
    * tables replace `outDir/<name>` in one commit. A failed write or a
    * refusal leaves every existing table as it was.
    */
  def publishParquet(outDir: String, tables: Seq[(String, DataFrame)])(accept: () => Unit): Unit =
    Publish(tables.head._2.sparkSession, outDir, Publish.Replace, tables.map(_._1)) { stage =>
      tables.foreach { case (name, df) => parquet(df, s"$stage/$name") }
    }(_ => accept())

  /** JSON-lines sink (one object per line — the interchange format most
    * curation pipelines exchange; schema travels in the data).
    */
  def json(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC sink (columnar alternative where the downstream stack is
    * Hive/Trino-flavored; same pushdown/pruning properties as parquet).
    */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetMb`-sized files. The streaming/micro-batch sinks above land
    * one file per task per trigger; at 100 TB that decays scan
    * performance (footer-per-file overhead, tiny row groups) until a
    * compaction pass rewrites history. File count = ceil(input bytes /
    * target); `coalesce` keeps the rewrite narrow (no shuffle — each
    * output task concatenates a set of input files). Returns the file
    * count written.
    */
  def compactParquet(
      spark: org.apache.spark.sql.SparkSession, inPath: String, outPath: String,
      targetMb: Int = 256): Int = {
    val df = spark.read.parquet(inPath)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((bytes + (targetMb.toLong << 20) - 1) / (targetMb.toLong << 20))
      .max(1).min(10000).toInt
    df.coalesce(n).write.mode(SaveMode.Overwrite).parquet(outPath)
    n
  }

  def jdbc(df: DataFrame, url: String, table: String, props: java.util.Properties): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)
}

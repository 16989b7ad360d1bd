package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.Streaming
import graft.ops.Num
import QueryDef.tbl

/** Round-11 batch: the two operator families the battery still lacked.
  *
  * q308 exercises Structured Streaming's DEDUPLICATION state operator
  * (`dropDuplicates` → StreamingDeduplicate) as a real StreamingQuery —
  * the one stateful operator the q151/q152/q156/q271/q303 matrix did not
  * cover. Streaming dedup is also the production shape of ingest-time
  * exact dedup: the batch battery dedups at rest (q35/q91); a pipeline
  * ingesting 100 TB/day dedups in flight, keyed state in RocksDB. The
  * bounded replay uses the unbounded-state `dropDuplicates` (exact —
  * equivalent to batch DISTINCT regardless of micro-batch order, which
  * is what the hash gate needs); production bounds state with
  * `dropDuplicatesWithinWatermark`, same plan with an eviction clock.
  *
  * q309 is exact PROPORTIONAL STRATIFIED sampling — "one-in-five from
  * every source, exactly, deterministically": md5-derived priorities
  * give a uniform order within each stratum, PrefixSum.rank turns that
  * into exact per-stratum ranks WITHOUT a `PARTITION BY source` window
  * (~20 strata → N/20 single-task sorts at 100 TB), and the quota
  * cutoff is integer arithmetic on the broadcast per-stratum counts.
  * Emitting the full decision table puts the SAMPLE ITSELF under the
  * hash gate (the q107/q113 convention). Distinct from q254 (global
  * weighted top-k) and q107 (Bernoulli rate sampling): exact-count
  * per-stratum selection is the shape eval-set builders need.
  */
object Extended60 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q308_stream_dedup",
      (s, dir) =>
        Streaming.replay(s, s"$dir/events.parquet", "complete") {
          _.select(col("user_id"), col("event_type"))
            .dropDuplicates("user_id", "event_type")
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_distinct_users"))
        }
          .select(col("event_type"), col("n_distinct_users"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
             |  count(DISTINCT user_id) AS n_distinct_users
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    QueryDef(
      "q309_stratified_sample",
      (s, dir) => {
        // deterministic uniform priority: first 48 md5 bits as an exact
        // integer (the q254 construction, kept integral — no doubles)
        val pri = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
          .cast("bigint")
        val d = tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"))
          .withColumn("__pri", pri)
        val sizes = d.groupBy(col("source")).agg(count(lit(1)).as("__n"))
        graft.ops.PrefixSum.rank(
            d, Seq("source"), col("__pri"), ascending = true,
            Seq(col("doc_id")), "sel_rank")
          .join(broadcast(sizes), Seq("source"))
          .select(col("doc_id"), col("source"), col("sel_rank"),
            (col("sel_rank") <= expr("__n DIV 5L")).as("selected"))
          .orderBy("doc_id")
      },
      Some("""WITH k AS (
             |  SELECT doc_id, source,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
             |      AS pri
             |  FROM documents),
             |s AS (SELECT source, count(*) AS n FROM k GROUP BY 1),
             |r AS (SELECT k.doc_id, k.source,
             |        row_number() OVER (PARTITION BY k.source
             |                           ORDER BY pri, doc_id) AS rnk, n
             |      FROM k JOIN s USING (source))
             |SELECT doc_id, source, CAST(rnk AS BIGINT) AS sel_rank,
             |  rnk <= n // 5 AS selected
             |FROM r ORDER BY doc_id""".stripMargin))
  )
}

package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.Streaming

/** Round-11 batch 3: q317 — LEFT OUTER stream-stream join. The join-mode
  * matrix had inner interval join (q271) but not the outer form, whose
  * semantics are genuinely different in Structured Streaming: matched
  * rows emit immediately, but an UNMATCHED left row emits its
  * null-padded result only when the global watermark passes the point
  * where a match is provably impossible (s_ts + horizon) — i.e. the
  * abandonment readout is watermark-DRIVEN state eviction, not a scan.
  *
  * Replay mechanics: eviction happens in the batch AFTER the watermark
  * advances, so a single-file AvailableNow replay would finish with
  * every unmatched signup still buffered. The query appends two
  * far-future sentinel files (user_id = −1 on BOTH sides so both
  * per-side watermarks advance — the global watermark is their min):
  * batch 2 advances the watermark past every real signup's horizon,
  * batch 3 evicts and emits the null-padded rows. Distinct mtimes +
  * lexicographic names pin the file order; sentinels are dropped from
  * the readout (they exist only in the streaming copy, so the DuckDB
  * oracle — a plain LEFT JOIN over the fixture — never sees them).
  */
object Extended63 {

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q317_stream_outer_join",
      (s, dir) =>
        Streaming.replay(s, s"$dir/events.parquet", "append", sentinelIdBase = Some(-100L)) { es =>
          val signups = es.filter(col("event_type") === "signup")
            .select(col("user_id"), col("ts").as("s_ts"), col("event_id").as("s_id"))
            .withWatermark("s_ts", "2 hours")
          val purchases = es.filter(col("event_type") === "purchase")
            .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
            .withWatermark("p_ts", "2 hours")
          signups.join(purchases,
            col("p_uid") === col("user_id") &&
              col("p_ts") >= col("s_ts") &&
              col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS"),
            "left_outer")
            .select(col("user_id"), col("s_id"),
              unix_micros(col("s_ts")).as("st"), unix_micros(col("p_ts")).as("pt"))
        }
          .filter(col("user_id") >= 0)
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("s_id")).as("n_signups"),
            count(col("pt")).as("n_matched"),
            count(when(col("pt").isNull, lit(1))).as("n_abandoned"),
            min(expr("(pt - st) div 1000000")).as("min_lag_s"),
            max(expr("(pt - st) div 1000000")).as("max_lag_s"))
          .orderBy("user_id"),
      Some("""WITH su AS (
             |  SELECT user_id, event_id AS s_id, epoch_us(ts) AS st FROM events
             |  WHERE event_type = 'signup'),
             |pu AS (
             |  SELECT user_id, epoch_us(ts) AS pt FROM events
             |  WHERE event_type = 'purchase'),
             |pairs AS (
             |  SELECT su.user_id, su.s_id, su.st, pu.pt
             |  FROM su LEFT JOIN pu ON pu.user_id = su.user_id
             |   AND pu.pt >= su.st AND pu.pt <= su.st + 7200000000)
             |SELECT user_id,
             |  count(*) AS n_rows,
             |  count(DISTINCT s_id) AS n_signups,
             |  count(pt) AS n_matched,
             |  count(CASE WHEN pt IS NULL THEN 1 END) AS n_abandoned,
             |  CAST(min((pt - st) // 1000000) AS BIGINT) AS min_lag_s,
             |  CAST(max((pt - st) // 1000000) AS BIGINT) AS max_lag_s
             |FROM pairs GROUP BY user_id
             |ORDER BY user_id""".stripMargin))
  )
}

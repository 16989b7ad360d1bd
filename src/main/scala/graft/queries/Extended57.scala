package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.Streaming
import graft.ops.Num
import QueryDef.tbl

/** Round-10 batch: the sliding-window streaming mode under the oracle
  * gate — q303 runs `Streaming.slidingCounts` as a REAL StreamingQuery
  * (file-source AvailableNow replay → overlapping 1h/15min windows →
  * foreachBatch parquet sink), completing the streaming-mode matrix:
  * tumbling (q151), session (q152), arbitrary state (q156),
  * stream-stream join (q271) were already driver-verified; sliding was
  * the one mode with only spec coverage.
  *
  * Complete mode for the q151 reason: a bounded replay must emit every
  * window including the open tail or the result could not equal the
  * batch oracle; append+watermark (already part of slidingCounts) is
  * the production configuration, where state is evicted as the
  * watermark passes window ends. The oracle replays Spark's
  * slide-aligned window assignment arithmetically: an event at t
  * belongs to exactly window/slide = 4 windows whose starts are
  * floor₁₅ₘ(t) − k·15min for k ∈ 0..3 (epoch-aligned integer µs
  * floors — engine-neutral).
  */
object Extended57 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q303_stream_sliding",
      (s, dir) =>
        Streaming.replay(s, s"$dir/events.parquet", "complete") {
          Streaming.slidingCounts(_, window_ = "1 hour", slide = "15 minutes")
        }
          .select(
            date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("event_type"), col("n"))
          .orderBy("window_start", "event_type"),
      Some("""WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
             |w AS (
             |  SELECT make_timestamp((us // 900000000) * 900000000
             |           - k.k * 900000000) AS ws, event_type
             |  FROM e CROSS JOIN range(0, 4) k(k))
             |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
             |  event_type, count(*) AS n
             |FROM w GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin))
  )
}

package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.Streaming
import graft.ops.Num

/** Round-11 batch 7: q322 — CHAINED STATEFUL streaming: a stream-stream
  * interval join feeding a tumbling event-time aggregation inside ONE
  * StreamingQuery (two state stores back to back). Spark supports
  * multiple stateful operators per query since 3.4/4.x; the battery ran
  * each stateful shape alone (q271 join, q151 window agg) but never the
  * production composition — conversion volume per hour, computed AS a
  * stream. Correctness is the interesting part: the join's matched rows
  * carry the purchase event time through to the window operator, and a
  * window emits only when the propagated watermark proves it complete.
  *
  * Replay mechanics are q317's (shared helper). One measured subtlety:
  * the sentinel pairs MUST flow through the join INTO the window agg —
  * filtering them out between the two operators left the final real
  * windows stuck in state at stream end (the agg's flush ran only in
  * batches that delivered it rows; measured at sf0.1: last 3 hours
  * missing). So sentinels ride the whole pipeline and the READOUT drops
  * their 2027 windows by the helper-owned `Streaming.SentinelEpochUs`
  * bound — a named constant tied to the sentinel timestamps, not a
  * magic cutoff; the oracle (batch join + hour bucket over the fixture)
  * never contains them.
  */
object Extended67 {

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q322_stream_join_agg",
      (s, dir) =>
        Streaming.replay(s, s"$dir/events.parquet", "append", sentinelIdBase = Some(-200L)) { es =>
          val signups = es.filter(col("event_type") === "signup")
            .select(col("user_id"), col("ts").as("s_ts"))
            .withWatermark("s_ts", "2 hours")
          val purchases = es.filter(col("event_type") === "purchase")
            .select(col("user_id").as("p_uid"), col("ts").as("p_ts"), col("value").as("p_value"))
            .withWatermark("p_ts", "2 hours")
          val joined = signups.join(purchases,
            col("p_uid") === col("user_id") &&
              col("p_ts") >= col("s_ts") &&
              col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS"))
          // second stateful operator IN THE SAME QUERY: tumbling window on
          // the joined stream's purchase event time
          joined
            .groupBy(window(col("p_ts"), "1 hour").as("w"))
            .agg(count(lit(1)).as("n_pairs"),
              sum(col("p_value")).as("v"))
            .select(unix_micros(col("w.start")).as("wstart_us"),
              col("n_pairs"), col("v"))
        }
          .filter(col("wstart_us") < Streaming.SentinelEpochUs)
          .withColumn("hr", (col("wstart_us") / lit(3600000000L)).cast("long"))
          .select(col("hr"), col("n_pairs"), Num.roundTo(col("v"), 4).as("value_sum_r"))
          .orderBy("hr"),
      Some(s"""WITH su AS (
              |  SELECT user_id, epoch_us(ts) AS st FROM events
              |  WHERE event_type = 'signup'),
              |pu AS (
              |  SELECT user_id, epoch_us(ts) AS pt, value FROM events
              |  WHERE event_type = 'purchase'),
              |pairs AS (
              |  SELECT pu.pt, pu.value
              |  FROM su JOIN pu ON pu.user_id = su.user_id
              |   AND pu.pt >= su.st AND pu.pt <= su.st + 7200000000)
              |SELECT pt // 3600000000 AS hr,
              |  count(*) AS n_pairs,
              |  ${Num.roundSql("sum(value)", 4)} AS value_sum_r
              |FROM pairs GROUP BY 1 ORDER BY hr""".stripMargin))
  )
}

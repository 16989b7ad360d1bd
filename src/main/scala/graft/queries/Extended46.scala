package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.Streaming
import graft.ops.Num
import QueryDef.tbl

/** Round-9 nineteenth batch: a SECOND driver-visible streaming query and
  * a clamped stateful ledger —
  *
  *  - q271 stream-stream interval join under the oracle gate: signups
  *    joined to same-user purchases within the following 2 hours, both
  *    sides watermarked, executed as a real checkpointed StreamingQuery
  *    (Trigger.AvailableNow over a file source). q156 proved stateful
  *    AGGREGATION parity; this proves the join-state path — the other
  *    half of Structured Streaming's stateful surface — against the
  *    same batch-SQL oracle.
  *  - q272 capped running balance: the inventory/credit ledger walk
  *    b' = clamp(b + δ, 0, cap) with stockout/overflow counts. The
  *    clamp makes the recurrence non-linear — no window prefix-sum
  *    trick exists — so it runs as the integer `aggregate` HOF fold per
  *    user (bounded by per-user history, parallel across users), with a
  *    step-per-move WITH RECURSIVE oracle. All arithmetic in exact
  *    cent BIGINTs.
  */
object Extended46 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  /** q272 ledger cap in cents (500.00). */
  private val Cap = 50000L

  val all: Seq[QueryDef] = Seq(

    // ----- q271: stream-stream interval join (real StreamingQuery) ------
    QueryDef(
      "q271_stream_join",
      (s, dir) =>
        Streaming.replay(s, s"$dir/events.parquet", "append") { es =>
          val signups = es.filter(col("event_type") === "signup")
            .select(col("user_id"), col("ts").as("s_ts"))
            .withWatermark("s_ts", "2 hours")
          val purchases = es.filter(col("event_type") === "purchase")
            .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
            .withWatermark("p_ts", "2 hours")
          signups.join(purchases,
            col("p_uid") === col("user_id") &&
              col("p_ts") >= col("s_ts") &&
              col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS"))
            .select(col("user_id"),
              unix_micros(col("s_ts")).as("st"), unix_micros(col("p_ts")).as("pt"))
        }
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pairs"),
            min(expr("(pt - st) div 1000000")).as("min_lag_s"),
            max(expr("(pt - st) div 1000000")).as("max_lag_s"))
          .orderBy("user_id"),
      Some("""WITH su AS (
             |  SELECT user_id, epoch_us(ts) AS st FROM events
             |  WHERE event_type = 'signup'),
             |pu AS (
             |  SELECT user_id, epoch_us(ts) AS pt FROM events
             |  WHERE event_type = 'purchase'),
             |pairs AS (
             |  SELECT su.user_id, st, pt
             |  FROM su JOIN pu ON pu.user_id = su.user_id
             |   AND pu.pt >= su.st AND pu.pt <= su.st + 7200000000)
             |SELECT user_id, count(*) AS n_pairs,
             |  CAST(min((pt - st) // 1000000) AS BIGINT) AS min_lag_s,
             |  CAST(max((pt - st) // 1000000) AS BIGINT) AS max_lag_s
             |FROM pairs GROUP BY user_id
             |ORDER BY user_id""".stripMargin),
    ),

    // ----- q272: capped running balance (clamped ledger fold) -----------
    QueryDef(
      "q272_capped_balance",
      (s, dir) => {
        val moves = tbl(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("event_id"),
            when(col("event_type") === "click", R(col("value") * 100.0, 0))
              .otherwise(-R(col("value") * 100.0, 0)).cast("long").as("delta"))
        val folded = moves.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_moves"),
            transform(sort_array(collect_list(
                struct(col("tsu"), col("event_id"), col("delta")))),
              e => e.getField("delta")).as("deltas"))
          .withColumn("st", expr(
            s"""aggregate(deltas, array(0L, 0L, 0L),
               |  (st, x) -> CASE
               |    WHEN element_at(st, 1) + x < 0L
               |      THEN array(0L, element_at(st, 2) + 1L, element_at(st, 3))
               |    WHEN element_at(st, 1) + x > ${Cap}L
               |      THEN array(${Cap}L, element_at(st, 2), element_at(st, 3) + 1L)
               |    ELSE array(element_at(st, 1) + x, element_at(st, 2), element_at(st, 3))
               |  END)""".stripMargin))
        folded.select(col("user_id"), col("n_moves"),
            expr("element_at(st, 1)").as("final_cents"),
            expr("element_at(st, 2)").as("n_stockouts"),
            expr("element_at(st, 3)").as("n_overflows"),
            R(expr("element_at(st, 1)").cast("double") / Cap.toDouble, 6)
              .as("fill_r"))
          .orderBy("user_id")
      },
      Some(s"""WITH RECURSIVE moves AS (
              |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
              |    CAST(CASE WHEN event_type = 'click'
              |      THEN ${rs("value * 100.0", 0)}
              |      ELSE -${rs("value * 100.0", 0)} END AS BIGINT) AS delta,
              |    row_number() OVER (PARTITION BY user_id
              |      ORDER BY epoch_us(ts), event_id) AS rn
              |  FROM events WHERE event_type IN ('click', 'purchase')),
              |it AS (
              |  SELECT user_id, 0 AS k,
              |    CAST(0 AS BIGINT) AS bal, CAST(0 AS BIGINT) AS lo,
              |    CAST(0 AS BIGINT) AS hi
              |  FROM moves GROUP BY user_id
              |  UNION ALL
              |  SELECT it.user_id, it.k + 1,
              |    CASE WHEN it.bal + m.delta < 0 THEN 0
              |      WHEN it.bal + m.delta > $Cap THEN $Cap
              |      ELSE it.bal + m.delta END,
              |    it.lo + CASE WHEN it.bal + m.delta < 0 THEN 1 ELSE 0 END,
              |    it.hi + CASE WHEN it.bal + m.delta > $Cap THEN 1 ELSE 0 END
              |  FROM it JOIN moves m
              |    ON m.user_id = it.user_id AND m.rn = it.k + 1),
              |fin AS (
              |  SELECT user_id, max(k) AS n_moves,
              |    max_by(bal, k) AS final_cents,
              |    max_by(lo, k) AS n_stockouts,
              |    max_by(hi, k) AS n_overflows
              |  FROM it GROUP BY user_id)
              |SELECT user_id, n_moves, final_cents, n_stockouts, n_overflows,
              |  ${rs(s"CAST(final_cents AS DOUBLE) / $Cap", 6)} AS fill_r
              |FROM fin
              |ORDER BY user_id""".stripMargin),
    )
  )
}

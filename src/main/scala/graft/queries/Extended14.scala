package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Num
import QueryDef.tbl

/** Round-7 fourth batch: snapshot reconciliation (churn diff between two
  * as-of states), exact weighted medians, and RFM customer segmentation.
  * Three more classic data-engineering/analytics shapes the first 169
  * queries do not cover: state-vs-state audit joins, weight-aware robust
  * statistics, and quantile-score segmentation.
  */
object Extended14 {

  /** q170 snapshot windows — fixed literals shared with the oracle so both
    * engines cut identical as-of states from the 30-day events fixture.
    * Day-sized windows are calibrated to the fixture's ~0.09 events/user/h
    * rate so ALL FOUR flags are non-vacuous at every fixture SF (verified:
    * sf0.001 → 1/8/2/4 added/changed/removed/unchanged, sf0.01 →
    * 13/100/12/23, sf0.1 → 141/977/144/223).
    */
  private val W1 = ("2024-01-08 00:00:00", "2024-01-09 00:00:00")
  private val W2 = ("2024-01-09 00:00:00", "2024-01-10 00:00:00")

  /** q172 recency reference — the day after the fixture's last order. */
  private val RfmRef = "2001-09-01"

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  val all: Seq[QueryDef] = Seq(

    // ----- q170: snapshot diff / churn audit ----------------------------
    // Reconcile two as-of states of per-user latest activity (week 1 vs
    // week 2): which users appeared, disappeared, changed their latest
    // (event_type, value), or stayed identical. The canonical
    // snapshot-reconciliation audit (table-diff before a backfill swap,
    // CDC sanity check). Shape: each snapshot is one filtered scan + one
    // per-user window argmax (latest by ts,event_id); the diff is a
    // single full-outer equi-join on the key, then a 4-row rollup. At
    // scale both sides shuffle once on user_id and the join co-locates
    // on the same key — partition-pruned scans if the events table is
    // date-partitioned. State compares the latest event_type (string
    // equality, no arithmetic) so every flag is reachable.
    QueryDef(
      "q170_snapshot_diff",
      (s, dir) => {
        def snap(lo: String, hi: String) = {
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)
          tbl(s, dir, "events")
            .filter(col("ts") >= lit(lo).cast("timestamp") &&
              col("ts") < lit(hi).cast("timestamp"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("user_id"), col("event_type"))
        }
        val a = snap(W1._1, W1._2).select(col("user_id"), col("event_type").as("t1"))
        val b = snap(W2._1, W2._2).select(col("user_id"), col("event_type").as("t2"))
        a.join(b, Seq("user_id"), "full")
          .select(
            when(col("t2").isNull, "removed")
              .when(col("t1").isNull, "added")
              .when(col("t1") =!= col("t2"), "changed")
              .otherwise("unchanged").as("flag"))
          .groupBy(col("flag")).agg(count(lit(1)).as("n_users"))
          .orderBy("flag")
      },
      Some(s"""WITH a AS (
              |  SELECT user_id, event_type AS t1
              |  FROM events
              |  WHERE ts >= TIMESTAMP '${W1._1}' AND ts < TIMESTAMP '${W1._2}'
              |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
              |b AS (
              |  SELECT user_id, event_type AS t2
              |  FROM events
              |  WHERE ts >= TIMESTAMP '${W2._1}' AND ts < TIMESTAMP '${W2._2}'
              |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
              |SELECT CASE WHEN t2 IS NULL THEN 'removed'
              |            WHEN t1 IS NULL THEN 'added'
              |            WHEN t1 <> t2 THEN 'changed'
              |            ELSE 'unchanged' END AS flag,
              |       count(*) AS n_users
              |FROM a FULL OUTER JOIN b USING (user_id)
              |GROUP BY 1 ORDER BY flag""".stripMargin)),

    // ----- q171: exact weighted median per group ------------------------
    // Weighted median of extended price with quantity weights, per return
    // flag: sort each group once, take the running weight sum (one
    // window), and the weighted median is the first row whose doubled
    // cumulative weight reaches the group total — selected as a plain
    // min() over the qualifying suffix, no second pass, no collect.
    // Weights accumulate as DECIMAL(18,4) of 4-dp-rounded quantities, so
    // the cumulative and total sums are exact and the 2·cum ≥ tot
    // predicate is integer-exact in both engines. The unweighted exact
    // percentile (q47) cannot express this. SCALE SHAPE: `rf` has THREE
    // values, so a `PARTITION BY rf` running sum is an N/3 single-task
    // sort at 100 TB — the cumulative weight goes through
    // PrefixSum.exclusiveSum (coarse price cells + exact DECIMAL offsets;
    // largest task ~N/(3·cells)) and the group totals through a 3-row
    // hash agg broadcast back.
    QueryDef(
      "q171_weighted_median",
      (s, dir) => {
        val dec4 = DecimalType(18, 4)
        val base = tbl(s, dir, "lineitem")
          .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("price"),
            col("l_orderkey"), col("l_linenumber"),
            R(col("l_quantity"), 4).cast(dec4).as("w"))
        val tot = base.groupBy(col("rf")).agg(sum(col("w")).as("tw"))
        val cum = graft.ops.PrefixSum.exclusiveSum(
            base, Seq("rf"), col("price"), ascending = true,
            Seq(col("l_orderkey"), col("l_linenumber")), col("w"), "__cwx")
          .join(broadcast(tot), Seq("rf"))
          .withColumn("cw", col("__cwx") + col("w"))
        cum.filter(col("cw") * 2 >= col("tw"))
          .groupBy(col("rf")).agg(
            min(col("price")).as("wmedian"),
            count(lit(1)).as("n_upper"))
          .orderBy("rf")
      },
      Some(s"""WITH base AS (
              |  SELECT l_returnflag AS rf, l_extendedprice AS price,
              |         l_orderkey, l_linenumber,
              |         CAST(${rs("l_quantity", 4)} AS DECIMAL(18,4)) AS w
              |  FROM lineitem),
              |c AS (
              |  SELECT rf, price,
              |         sum(w) OVER (PARTITION BY rf ORDER BY price, l_orderkey, l_linenumber
              |                      ROWS UNBOUNDED PRECEDING) AS cw,
              |         sum(w) OVER (PARTITION BY rf) AS tw
              |  FROM base)
              |SELECT rf, min(price) AS wmedian, count(*) AS n_upper
              |FROM c WHERE cw * 2 >= tw
              |GROUP BY 1 ORDER BY rf""".stripMargin)),

    // ----- q172: RFM customer segmentation ------------------------------
    // Recency / Frequency / Monetary quintile scores per customer — the
    // classic marketing segmentation, and the canonical "three metrics,
    // three ntile windows" shape. One orders scan aggregates all three
    // metrics per customer (recency = days to a fixed reference, exact
    // integers; monetary = DECIMAL cent-sum), then three ntile(5)
    // windows with total tie-break orders (metric, custkey) make the
    // scores engine-deterministic. Output is per-customer, total ORDER
    // BY. The per-customer relation is DATA-SIZED, so each quintile runs
    // as Quantiles.exactNtiles (coarse cells + exact offsets + per-cell
    // windows — no single-task global sort; identical assignment, pinned
    // in QuantilesSpec); the agg is Ckpt'd once and the multi-key variant
    // shares ONE boundary aggregate across all three sort
    // keys, so the boundary pass costs one scan instead of three.
    QueryDef(
      "q172_rfm",
      (s, dir) => {
        val m = graft.ops.Ckpt(tbl(s, dir, "orders")
          .groupBy(col("o_custkey").as("custkey")).agg(
            min(datediff(lit(RfmRef).cast("date"), col("o_orderdate").cast("date")))
              .cast("bigint").as("recency_days"),
            count(lit(1)).as("frequency"),
            sum(R(col("o_totalprice"), 2).cast(DecimalType(18, 2))).as("monetary")))
        import graft.ops.Quantiles.NtileKey
        val scored = graft.ops.Quantiles.exactNtiles(m, 5, Seq(
          NtileKey(col("recency_days"), ascending = true, "r_score"),
          NtileKey(col("frequency"), ascending = false, "f_score"),
          NtileKey(col("monetary"), ascending = false, "m_score")),
          Seq(col("custkey")))
        scored
          .select(col("custkey"), col("recency_days"), col("frequency"),
            col("monetary").cast("double").as("monetary_d"),
            col("r_score"), col("f_score"), col("m_score"),
            concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
          .orderBy("custkey")
      },
      Some(s"""WITH m AS (
              |  SELECT o_custkey AS custkey,
              |         min(date_diff('day', CAST(o_orderdate AS DATE), DATE '$RfmRef')) AS recency_days,
              |         count(*) AS frequency,
              |         sum(CAST(${rs("o_totalprice", 2)} AS DECIMAL(18,2))) AS monetary
              |  FROM orders GROUP BY 1),
              |sc AS (
              |  SELECT custkey, recency_days, frequency, monetary,
              |         CAST(ntile(5) OVER (ORDER BY recency_days, custkey) AS BIGINT) AS r_score,
              |         CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey) AS BIGINT) AS f_score,
              |         CAST(ntile(5) OVER (ORDER BY monetary DESC, custkey) AS BIGINT) AS m_score
              |  FROM m)
              |SELECT custkey, recency_days, frequency,
              |       CAST(monetary AS DOUBLE) AS monetary_d,
              |       r_score, f_score, m_score,
              |       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
              |FROM sc ORDER BY custkey""".stripMargin))
  )
}

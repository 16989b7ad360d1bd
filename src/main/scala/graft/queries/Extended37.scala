package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Num
import QueryDef.{moneySumSql, registerViews, tbl}

/** Round-9 tenth batch: experiment-health guard (sample-ratio mismatch —
  * the FIRST check an A/B readout runs; a failed SRM invalidates
  * q183/q206/q233 before they start), metric mix-decomposition (the
  * "why did the rate move" split into within-segment change vs mix
  * shift — q208's bridge decomposes a SUM, this decomposes a RATE), and
  * three more optimizer-heavy SQL-surface shapes (TPC-H Q7/Q8/Q22
  * adapted to the fixture schema): multi-alias dimension joins,
  * conditional market-share aggregation, and the scalar-subquery +
  * NOT EXISTS anti-join pair.
  */
object Extended37 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  private val revSum = moneySumSql("l_extendedprice * (1 - l_discount)")

  /** Q7 shape: volume shipped between two fixed nations, both directions,
    * per ship year — the two-alias dimension join.
    */
  private val sqlQ7 =
    s"""SELECT supp_nation, cust_nation, l_year, $revSum AS revenue
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
       |    l_extendedprice, l_discount
       |  FROM supplier
       |  JOIN lineitem ON s_suppkey = l_suppkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
       |      OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
       |    AND l_shipdate >= DATE '1995-01-01'
       |    AND l_shipdate < DATE '1999-01-01'
       |) shipping
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Q8 shape: one nation's market share inside a region for one part
    * type, per order year — conditional-share aggregation over a 6-way
    * star join.
    */
  private val sqlQ8 = {
    val natVol = moneySumSql(
      "CASE WHEN n2_name = 'NATION_8' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")
    s"""SELECT o_year, $natVol AS nation_volume, $revSum AS total_volume,
       |  ${Num.roundSql(s"$natVol / $revSum", 6)} AS mkt_share_r
       |FROM (
       |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       |    l_extendedprice, l_discount, n2.n_name AS n2_name
       |  FROM part
       |  JOIN lineitem ON p_partkey = l_partkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |  JOIN region ON n1.n_regionkey = r_regionkey
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
       |) allrows
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin
  }

  /** Q22 shape: above-average-balance customers with no urgent orders —
    * scalar subquery (order-independent DECIMAL mean) + NOT EXISTS
    * anti-join. "Country code" adapted to c_custkey % 10 ∈ {1..5}; the
    * urgent-order restriction keeps the anti-join non-vacuous at every
    * fixture SF (every customer has SOME order, ~0.8^k have no urgent
    * one).
    */
  private val sqlQ22 = {
    val balAvg =
      s"CAST(SUM(CAST(${Num.roundSql("c_acctbal", 2)} AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)"
    s"""SELECT code, COUNT(*) AS numcust,
       |  ${moneySumSql("c_acctbal")} AS totacctbal
       |FROM (
       |  SELECT c_custkey % 10 AS code, c_acctbal
       |  FROM customer
       |  WHERE c_custkey % 10 IN (1, 2, 3, 4, 5)
       |    AND c_acctbal > (
       |      SELECT $balAvg FROM customer
       |      WHERE c_acctbal > 0.0 AND c_custkey % 10 IN (1, 2, 3, 4, 5))
       |    AND NOT EXISTS (
       |      SELECT 1 FROM orders
       |      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
       |) cust
       |GROUP BY code
       |ORDER BY code""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // ----- q247: sample-ratio mismatch guard ----------------------------
    // Is the 50/50 split actually 50/50? χ²(1) on the observed arm
    // sizes vs the designed ratio — a failed SRM means assignment is
    // broken (bot filtering, redirect loss) and every downstream
    // readout is invalid. Exactness: arm counts are exact distinct
    // counts; χ² is one shared closed form; the decision compares
    // pre-rounded doubles against the shared 3.84 literal. Shape: one
    // user agg → 1-row relation.
    QueryDef(
      "q247_srm_check",
      (s, dir) => {
        val arms = tbl(s, dir, "events")
          .select(col("user_id")).distinct()
          .agg(sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n1"))
        val d = (c: Column) => c.cast("double")
        val e = (d(col("n0")) + d(col("n1"))) / 2.0
        val chi2 = (d(col("n0")) - e) * (d(col("n0")) - e) / e +
          (d(col("n1")) - e) * (d(col("n1")) - e) / e
        arms.select(col("n0"), col("n1"),
          R(d(col("n1")) / (d(col("n0")) + d(col("n1"))), 6).as("ratio_r"),
          R(chi2, 6).as("chi2_r"),
          (chi2 > expr("3.841458820694124E0")).as("srm_detected"))
      },
      Some(s"""WITH arms AS (
              |  SELECT
              |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
              |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
              |  FROM (SELECT DISTINCT user_id FROM events)),
              |c AS (
              |  SELECT *, (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0 AS e
              |  FROM arms),
              |x AS (
              |  SELECT *,
              |    (CAST(n0 AS DOUBLE) - e) * (CAST(n0 AS DOUBLE) - e) / e
              |    + (CAST(n1 AS DOUBLE) - e) * (CAST(n1 AS DOUBLE) - e) / e AS chi2
              |  FROM c)
              |SELECT n0, n1,
              |  ${rs("CAST(n1 AS DOUBLE) / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))", 6)} AS ratio_r,
              |  ${rs("chi2", 6)} AS chi2_r,
              |  chi2 > 3.841458820694124E0 AS srm_detected
              |FROM x""".stripMargin)),

    // ----- q248: rate mix-decomposition ---------------------------------
    // Why did the purchase-per-event rate move between the two halves
    // of the month? Bennet (midpoint) decomposition over user-activity
    // segments: ΔR = Σ w̄ₛ·Δrₛ (within-segment rate effect)
    // + Σ r̄ₛ·Δwₛ (mix-shift effect) — an EXACT identity at midpoint
    // weights, pinned in-row. q208's waterfall decomposes a sum by
    // group; this decomposes a RATE into behavior vs composition.
    // Exactness: segment cells are exact integer ratios; effects
    // accumulate as rounded-term DECIMALs over the 3-row segment
    // relation; the identity flag compares pre-rounded doubles.
    // Shape: one (user, period) agg → segment cells → bounded windows.
    QueryDef(
      "q248_mix_decomposition",
      (s, dir) => {
        val up = tbl(s, dir, "events")
          .groupBy(col("user_id"),
            (to_date(col("ts")) >= lit("2024-01-16")).as("post"))
          .agg(count(lit(1)).as("n_ev"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_pu"))
          .withColumn("segment",
            when(col("n_ev") <= 30, "low")
              .when(col("n_ev") <= 36, "mid")
              .otherwise("high"))
        // period pivot at the cell level (q226's conditional-count trick):
        // ONE scan, zero joins — the pre/post-branch formulation re-scans
        // the event relation once per period
        val cells = up.groupBy(col("segment"))
          .agg(sum(when(!col("post"), col("n_ev")).otherwise(0L)).as("ev1"),
            sum(when(!col("post"), col("n_pu")).otherwise(0L)).as("pu1"),
            sum(when(col("post"), col("n_ev")).otherwise(0L)).as("ev2"),
            sum(when(col("post"), col("n_pu")).otherwise(0L)).as("pu2"))
        val dec = DecimalType(24, 10)
        val tot = Window.partitionBy()
        val j = cells
          .withColumn("evp1", sum(col("ev1")).over(tot))
          .withColumn("evp2", sum(col("ev2")).over(tot))
          .withColumn("w1", col("ev1").cast("double") / col("evp1").cast("double"))
          .withColumn("r1", col("pu1").cast("double") / col("ev1").cast("double"))
          .withColumn("w2", col("ev2").cast("double") / col("evp2").cast("double"))
          .withColumn("r2", col("pu2").cast("double") / col("ev2").cast("double"))
          .withColumn("rate_eff_t",
            R((col("w1") + col("w2")) / 2.0 * (col("r2") - col("r1")), 10).cast(dec))
          .withColumn("mix_eff_t",
            R((col("r1") + col("r2")) / 2.0 * (col("w2") - col("w1")), 10).cast(dec))
          .withColumn("sum_rate", sum(col("rate_eff_t")).over(tot).cast("double"))
          .withColumn("sum_mix", sum(col("mix_eff_t")).over(tot).cast("double"))
          .withColumn("r_pre",
            sum(R(col("w1") * col("r1"), 10).cast(dec)).over(tot).cast("double"))
          .withColumn("r_post",
            sum(R(col("w2") * col("r2"), 10).cast(dec)).over(tot).cast("double"))
        j.select(col("segment"),
            R(col("w1"), 6).as("w_pre_r"), R(col("r1"), 6).as("rate_pre_r"),
            R(col("w2"), 6).as("w_post_r"), R(col("r2"), 6).as("rate_post_r"),
            R(col("rate_eff_t").cast("double"), 6).as("rate_effect_r"),
            R(col("mix_eff_t").cast("double"), 6).as("mix_effect_r"),
            R(col("r_post") - col("r_pre"), 6).as("total_delta_r"),
            (abs((col("r_post") - col("r_pre")) -
              (col("sum_rate") + col("sum_mix"))) < lit(1e-9)).as("decomp_ok"))
          .orderBy("segment")
      },
      Some(s"""WITH up AS (
              |  SELECT user_id, CAST(ts AS DATE) >= DATE '2024-01-16' AS post,
              |    count(*) AS n_ev,
              |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_pu
              |  FROM events GROUP BY 1, 2),
              |seg AS (
              |  SELECT *, CASE WHEN n_ev <= 30 THEN 'low'
              |    WHEN n_ev <= 36 THEN 'mid' ELSE 'high' END AS segment
              |  FROM up),
              |cells AS (
              |  SELECT segment,
              |    CAST(sum(CASE WHEN NOT post THEN n_ev ELSE 0 END) AS BIGINT) AS ev1,
              |    CAST(sum(CASE WHEN NOT post THEN n_pu ELSE 0 END) AS BIGINT) AS pu1,
              |    CAST(sum(CASE WHEN post THEN n_ev ELSE 0 END) AS BIGINT) AS ev2,
              |    CAST(sum(CASE WHEN post THEN n_pu ELSE 0 END) AS BIGINT) AS pu2
              |  FROM seg GROUP BY 1),
              |j AS (
              |  SELECT segment,
              |    CAST(ev1 AS DOUBLE) / CAST(sum(ev1) OVER () AS DOUBLE) AS w1,
              |    CAST(pu1 AS DOUBLE) / CAST(ev1 AS DOUBLE) AS r1,
              |    CAST(ev2 AS DOUBLE) / CAST(sum(ev2) OVER () AS DOUBLE) AS w2,
              |    CAST(pu2 AS DOUBLE) / CAST(ev2 AS DOUBLE) AS r2
              |  FROM cells),
              |t AS (
              |  SELECT *,
              |    CAST(${rs("(w1 + w2) / 2.0 * (r2 - r1)", 10)} AS DECIMAL(24,10)) AS rate_eff_t,
              |    CAST(${rs("(r1 + r2) / 2.0 * (w2 - w1)", 10)} AS DECIMAL(24,10)) AS mix_eff_t,
              |    CAST(${rs("w1 * r1", 10)} AS DECIMAL(24,10)) AS wr1_t,
              |    CAST(${rs("w2 * r2", 10)} AS DECIMAL(24,10)) AS wr2_t
              |  FROM j),
              |f AS (
              |  SELECT *,
              |    CAST(sum(rate_eff_t) OVER () AS DOUBLE) AS sum_rate,
              |    CAST(sum(mix_eff_t) OVER () AS DOUBLE) AS sum_mix,
              |    CAST(sum(wr1_t) OVER () AS DOUBLE) AS r_pre,
              |    CAST(sum(wr2_t) OVER () AS DOUBLE) AS r_post
              |  FROM t)
              |SELECT segment,
              |  ${rs("w1", 6)} AS w_pre_r, ${rs("r1", 6)} AS rate_pre_r,
              |  ${rs("w2", 6)} AS w_post_r, ${rs("r2", 6)} AS rate_post_r,
              |  ${rs("CAST(rate_eff_t AS DOUBLE)", 6)} AS rate_effect_r,
              |  ${rs("CAST(mix_eff_t AS DOUBLE)", 6)} AS mix_effect_r,
              |  ${rs("r_post - r_pre", 6)} AS total_delta_r,
              |  abs((r_post - r_pre) - (sum_rate + sum_mix)) < 1e-9 AS decomp_ok
              |FROM f ORDER BY segment""".stripMargin)),

    // ----- q249/q250/q251: SQL-surface Q7 / Q8 / Q22 shapes -------------
    QueryDef(
      "q249_sql_q7",
      (s, dir) => {
        registerViews(s, dir,
          Seq("supplier", "lineitem", "orders", "customer", "nation"))
        s.sql(sqlQ7)
      },
      Some(sqlQ7)),

    QueryDef(
      "q250_sql_q8",
      (s, dir) => {
        registerViews(s, dir, Seq("part", "lineitem", "orders", "customer",
          "nation", "region", "supplier"))
        s.sql(sqlQ8)
      },
      Some(sqlQ8)),

    QueryDef(
      "q251_sql_q22",
      (s, dir) => {
        registerViews(s, dir, Seq("customer", "orders"))
        s.sql(sqlQ22)
      },
      Some(sqlQ22))
  )
}

package graft.queries

import graft.ops.Num
import QueryDef.{moneySumSql, registerViews, tbl}

/** Round-9 fourteenth batch: six more TPC-H plan shapes adapted to the
  * fixture schema (no partsupp / shipmode / commit-receipt dates in the
  * fixtures, so predicates are re-anchored on available columns while the
  * JOIN/SUBQUERY STRUCTURE — the thing the optimizer is graded on — stays
  * canonical):
  *
  *  - Q10 top-k returned-item revenue: 4-way star + TakeOrdered(20).
  *  - Q13 customer order-count distribution: the ON-clause-filtered LEFT
  *    OUTER join (filter must NOT drop customers — a WHERE would) feeding
  *    a count-of-counts double aggregation.
  *  - Q14 promo revenue share: conditional numerator over one join, a
  *    100·x/y ratio on order-independent DECIMAL sums.
  *  - Q15 top supplier by view revenue: aggregated CTE joined against its
  *    own MAX scalar subquery (the view-reuse shape).
  *  - Q19 disjunctive join: OR-of-ANDs mixing join-side predicates —
  *    the classic test that the optimizer still extracts the common
  *    p_partkey = l_partkey equi-join instead of falling to a cartesian.
  *  - Q21 waiting suppliers: correlated EXISTS + NOT EXISTS self-joins on
  *    lineitem ("late" re-anchored to ship-lag > 60 days past order date,
  *    since the fixture has no commit/receipt dates).
  *
  * All six run the IDENTICAL SQL text on Spark and DuckDB (shared-dialect
  * subset; money sums via the DECIMAL(18,4) order-independent recipe).
  * At 100 TB these shapes are exactly the plans AQE + CBO must get right:
  * broadcastable dims, shuffle-hash self-joins keyed on l_orderkey, and
  * scalar subqueries that must evaluate once, not per row.
  */
object Extended41 {

  private val revSum = moneySumSql("l_extendedprice * (1 - l_discount)")

  /** Q10: customers who returned items in 1996Q1, ranked by lost revenue.
    * Deterministic top-20: revenue is an exact DECIMAL-summed double and
    * c_custkey breaks any residual tie.
    */
  private val sqlQ10 =
    s"""SELECT c_custkey, c_name, $revSum AS revenue,
       |  ${Num.roundSql("c_acctbal", 2)} AS c_acctbal_r, n_name
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= DATE '1996-01-01'
       |  AND o_orderdate < DATE '1996-04-01'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  /** Q13: distribution of per-customer order counts, with the priority
    * filter in the LEFT JOIN ON clause so zero-order customers survive
    * as c_count = 0 (a WHERE would silently drop them — the bug this
    * shape exists to catch).
    */
  private[queries] val sqlQ13 =
    s"""SELECT c_count, COUNT(*) AS custdist
       |FROM (
       |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
       |  FROM customer
       |  LEFT OUTER JOIN orders
       |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
       |  GROUP BY c_custkey
       |) c_orders
       |GROUP BY c_count
       |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q14: promo revenue share for March 1996 — conditional numerator and
    * unconditional denominator from ONE pass over the same join.
    */
  private val sqlQ14 = {
    val promo = moneySumSql(
      "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")
    s"""SELECT ${Num.roundSql(s"100.0 * $promo / $revSum", 6)} AS promo_share_r,
       |  $promo AS promo_revenue, $revSum AS total_revenue,
       |  COUNT(*) AS n_rows
       |FROM lineitem
       |JOIN part ON p_partkey = l_partkey
       |WHERE l_shipdate >= DATE '1996-03-01'
       |  AND l_shipdate < DATE '1996-04-01'""".stripMargin
  }

  /** Q15: supplier(s) achieving the maximum quarterly revenue — the
    * aggregate-view + MAX scalar-subquery shape. Revenue is an exact
    * DECIMAL sum so the equality join against the scalar is reliable.
    */
  private val sqlQ15 =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no, $revSum AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= DATE '1996-01-01'
       |    AND l_shipdate < DATE '1996-04-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier
       |JOIN revenue ON s_suppkey = supplier_no
       |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** Q19: three OR'd brand/size/quantity bands — the optimizer must
    * extract the shared p_partkey = l_partkey conjunct from the
    * disjunction (Catalyst and DuckDB both do) or this becomes a
    * cartesian; PlanSpec pins the equi-join.
    */
  private val sqlQ19 =
    s"""SELECT $revSum AS revenue, COUNT(*) AS n_rows
       |FROM lineitem
       |JOIN part ON p_partkey = l_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       |        AND l_quantity BETWEEN 1 AND 20)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       |        AND l_quantity BETWEEN 10 AND 30)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       |        AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  /** Q21: suppliers that were the ONLY late supplier on a finished
    * multi-supplier order. Lateness = shipped more than 60 days after
    * the order date (fixture has no commit/receipt dates). Correlated
    * EXISTS keeps the multi-supplier restriction; NOT EXISTS keeps the
    * sole-blame restriction — both decorrelate to l_orderkey-keyed
    * semi/anti self-joins at scale.
    */
  private val sqlQ21 =
    s"""SELECT s_name, COUNT(*) AS numwait
       |FROM supplier
       |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
       |JOIN orders ON o_orderkey = l1.l_orderkey
       |WHERE o_orderstatus = 'F'
       |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem l2
       |    WHERE l2.l_orderkey = l1.l_orderkey
       |      AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM lineitem l3
       |    WHERE l3.l_orderkey = l1.l_orderkey
       |      AND l3.l_suppkey <> l1.l_suppkey
       |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name""".stripMargin

  private def sqlShape(name: String, sql: String, tables: Seq[String]): QueryDef =
    QueryDef(
      name,
      (s, dir) => { registerViews(s, dir, tables); s.sql(sql) },
      Some(sql))

  val all: Seq[QueryDef] = Seq(
    sqlShape("q257_sql_q10", sqlQ10,
      Seq("customer", "orders", "lineitem", "nation")),
    sqlShape("q258_sql_q13", sqlQ13, Seq("customer", "orders")),
    sqlShape("q259_sql_q14", sqlQ14, Seq("lineitem", "part")),
    sqlShape("q260_sql_q15", sqlQ15, Seq("lineitem", "supplier")),
    sqlShape("q261_sql_q19", sqlQ19, Seq("lineitem", "part")),
    sqlShape("q262_sql_q21", sqlQ21,
      Seq("supplier", "lineitem", "orders"))
  )
}

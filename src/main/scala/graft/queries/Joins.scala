package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Num
import QueryDef.{moneySum, moneySumSql, tbl}

/** Join battery (SURVEY.md §2.4 — the reference has zero joins; these are
  * the target-spec operators over the TPC-H-ish fixtures): inner multi-way
  * with a broadcast dimension, left outer with null-preserving aggregates,
  * semi/anti (EXISTS / NOT EXISTS), an equi+theta join, and set ops.
  *
  * Scale notes: `nation` is broadcast explicitly (tiny dimension at any
  * SF); the fact-fact joins shuffle on their keys and AQE handles skew /
  * picks broadcast for small-enough sides. Revenue sums accumulate in
  * DECIMAL(18,4) after bit-exact rounding — order-independent, so the
  * result is identical under any partitioning/merge order (and matches
  * DuckDB exactly); the driver-visible value is cast back to double.
  */
object Joins {

  val all: Seq[QueryDef] = Seq(
    // Inner 4-way join, revenue per nation; nation broadcast.
    QueryDef(
      "q15_join_inner",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("n_name"),
      Some(s"""SELECT n_name,
              |  ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
              |  count(*) AS n_items
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Left outer join: customers keep their row with 0 orders.
    QueryDef(
      "q16_join_left",
      (s, dir) =>
        tbl(s, dir, "customer")
          .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            coalesce(moneySum(col("o_totalprice")), lit(0.0)).as("total_spent"))
          .orderBy("c_custkey"),
      Some(s"""SELECT c_custkey, count(o_orderkey) AS n_orders,
              |  COALESCE(${moneySumSql("o_totalprice")}, 0.0) AS total_spent
              |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // Left-semi join ≡ EXISTS.
    QueryDef(
      "q17_join_semi",
      (s, dir) =>
        tbl(s, dir, "customer")
          .join(
            tbl(s, dir, "orders").filter(col("o_orderstatus") === "F"),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // Left-anti join ≡ NOT EXISTS.
    QueryDef(
      "q18_join_anti",
      (s, dir) =>
        tbl(s, dir, "customer")
          .join(
            tbl(s, dir, "orders").filter(col("o_orderstatus") === "F"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // Equi + theta join: items shipped strictly after their order date,
    // day-lateness stats per priority.
    QueryDef(
      "q19_join_theta",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .join(
            tbl(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"))
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_late"),
            Num.roundTo(avg(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))), 4)
              .as("avg_lag_days"))
          .orderBy("o_orderpriority"),
      Some(s"""SELECT o_orderpriority, count(*) AS n_late,
              |  ${Num.roundSql("avg(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE))", 4)}
              |    AS avg_lag_days
              |FROM lineitem JOIN orders
              |  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // EXCEPT (distinct set difference — Dataset.except ≡ SQL EXCEPT).
    QueryDef(
      "q20_set_except",
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
          .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |EXCEPT
             |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY o_custkey""".stripMargin)),

    // INTERSECT (distinct).
    QueryDef(
      "q21_set_intersect",
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
          .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY o_custkey""".stripMargin)),

    // UNION ALL of tagged branches then re-aggregate (bag semantics —
    // Dataset.union ≡ SQL UNION ALL; the distinct form is q20/q21's
    // except/intersect family).
    QueryDef(
      "q50_union_all",
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        val hi = o.filter(col("o_totalprice") > 200000)
          .select(col("o_custkey"), lit("hi").as("bucket"))
        val lo = o.filter(col("o_totalprice") < 50000)
          .select(col("o_custkey"), lit("lo").as("bucket"))
        hi.union(lo)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("n_cust"))
          .orderBy("bucket")
      },
      Some("""WITH u AS (
             |  SELECT o_custkey, 'hi' AS bucket FROM orders WHERE o_totalprice > 200000
             |  UNION ALL
             |  SELECT o_custkey, 'lo' FROM orders WHERE o_totalprice < 50000)
             |SELECT bucket, count(*) AS n, count(DISTINCT o_custkey) AS n_cust
             |FROM u GROUP BY bucket ORDER BY bucket""".stripMargin)))
}

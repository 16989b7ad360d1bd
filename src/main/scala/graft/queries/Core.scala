package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Aggregates, Classify, Cleaning, Num}
import QueryDef.tbl

/** Reference-parity operator families (SURVEY.md §2) mapped onto the
  * driver's TPC-H-ish fixtures: scan/project, range-gate-to-null,
  * classification when-chains, daily/monthly grouped means, window-form
  * means, deterministic + strict mode, median imputation, keep-first dedup,
  * distinct, top-k sort, and the validation-count gate.
  */
object Core {

  private val dayS = date_format(col("l_shipdate"), "yyyy-MM-dd")
  private val monthS = date_format(col("l_shipdate"), "yyyy-MM")
  private def R(c: org.apache.spark.sql.Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  val all: Seq[QueryDef] = Seq(
    // S2/P1: scan + projection with a scalar transform. Plan check: parquet
    // scan reads only (r_regionkey, r_name) — column pruning.
    QueryDef(
      "q01_scan_project",
      (s, dir) =>
        tbl(s, dir, "region")
          .select(col("r_regionkey"), upper(col("r_name")).as("r_name_up"))
          .orderBy("r_regionkey"),
      Some("""SELECT r_regionkey, upper(r_name) AS r_name_up
             |FROM region ORDER BY r_regionkey""".stripMargin)),

    // P2/P7: derived-column arithmetic (TPC-H "charge" shape).
    QueryDef(
      "q02_project_arith",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            R(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 4)
              .as("charge"))
          // (l_orderkey, l_linenumber) is NOT unique in the fixture —
          // every per-row ORDER BY must be total over ALL output columns
          // or tied rows land in engine-dependent order
          .orderBy("l_orderkey", "l_linenumber", "charge"),
      Some(s"""SELECT l_orderkey, l_linenumber,
              |  ${rs("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 4)} AS charge
              |FROM lineitem ORDER BY l_orderkey, l_linenumber, charge""".stripMargin)),

    // P6: range-gate to NULL, preserving open vs closed bounds
    // (v5_group_project_dag.py:79-84 uses both; we pin one of each).
    QueryDef(
      "q03_range_gate",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            Cleaning.gateToNull(col("l_quantity"), Cleaning.Bounds.open(5, 45)).as("quantity_gated"),
            Cleaning.gateToNull(col("l_extendedprice"), Cleaning.Bounds.closed(1000, 50000))
              .as("price_gated"))
          // total order incl. nullable outputs; Spark asc = NULLS FIRST,
          // so the oracle must say NULLS FIRST explicitly (DuckDB
          // defaults to NULLS LAST)
          .orderBy(
            col("l_orderkey"), col("l_linenumber"),
            col("quantity_gated").asc_nulls_first, col("price_gated").asc_nulls_first),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CASE WHEN l_quantity > 5 AND l_quantity < 45 THEN l_quantity END AS quantity_gated,
             |  CASE WHEN l_extendedprice BETWEEN 1000 AND 50000 THEN l_extendedprice END AS price_gated
             |FROM lineitem ORDER BY l_orderkey, l_linenumber,
             |  quantity_gated ASC NULLS FIRST, price_gated ASC NULLS FIRST""".stripMargin)),

    // P8: first-match bucketization (classify_wind shape,
    // v5_group_project_dag.py:113-141) as a codegen'd when-chain, then a
    // per-bucket rollup to keep the result compact.
    QueryDef(
      "q04_classify",
      (s, dir) => {
        val bucket = Classify
          .bucketize(Seq(
            (col("l_quantity") <= 10, "Q1"),
            (col("l_quantity") <= 20, "Q2"),
            (col("l_quantity") <= 30, "Q3"),
            (col("l_quantity") <= 40, "Q4")))
          .otherwise("Q5")
        tbl(s, dir, "lineitem")
          .groupBy(bucket.as("qty_bucket"))
          .agg(count(lit(1)).as("n"), R(avg(col("l_quantity")), 4).as("avg_qty"))
          .orderBy("qty_bucket")
      },
      Some(s"""SELECT CASE WHEN l_quantity <= 10 THEN 'Q1' WHEN l_quantity <= 20 THEN 'Q2'
              |            WHEN l_quantity <= 30 THEN 'Q3' WHEN l_quantity <= 40 THEN 'Q4'
              |            ELSE 'Q5' END AS qty_bucket,
              |  count(*) AS n, ${rs("avg(l_quantity)", 4)} AS avg_qty
              |FROM lineitem GROUP BY 1 ORDER BY qty_bucket""".stripMargin)),

    // A1 (composed form): per-day grouped means — the reference's daily
    // aggregate (v5_group_project_dag.py:167-172) on lineitem.
    QueryDef(
      "q05_daily_agg",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .groupBy(dayS.as("ship_day"))
          .agg(
            R(avg(col("l_quantity")), 4).as("avg_qty"),
            R(avg(col("l_extendedprice")), 4).as("avg_price"),
            R(avg(col("l_discount")), 6).as("avg_disc"),
            count(lit(1)).as("n_rows"))
          .orderBy("ship_day"),
      Some(s"""SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
              |  ${rs("avg(l_quantity)", 4)} AS avg_qty,
              |  ${rs("avg(l_extendedprice)", 4)} AS avg_price,
              |  ${rs("avg(l_discount)", 6)} AS avg_disc,
              |  count(*) AS n_rows
              |FROM lineitem GROUP BY 1 ORDER BY ship_day""".stripMargin)),

    // A1: per-month grouped means (v5_group_project_dag.py:184-188), month
    // kept as a yyyy-MM string exactly like the reference.
    QueryDef(
      "q06_monthly_agg",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .groupBy(monthS.as("ship_month"))
          .agg(
            R(avg(col("l_quantity")), 4).as("avg_qty"),
            R(avg(col("l_extendedprice")), 4).as("avg_price"),
            count(lit(1)).as("n_rows"))
          .orderBy("ship_month"),
      Some(s"""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
              |  ${rs("avg(l_quantity)", 4)} AS avg_qty,
              |  ${rs("avg(l_extendedprice)", 4)} AS avg_price,
              |  count(*) AS n_rows
              |FROM lineitem GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // A1 (transform form): grouped mean broadcast back to rows — pandas
    // groupby().transform('mean'). SCALE SHAPE: `avg OVER (PARTITION BY
    // ship_day)` funnels a full day's rows (100 TB / ~2500 days ≈ 40 GB)
    // into one task per calendar key; the distributed transform is a hash
    // aggregate to the calendar-bounded day rollup, broadcast-joined back
    // (identical values — the 4-dp parity rounding already absorbs
    // cross-engine summation order).
    QueryDef(
      "q07_window_mean",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem").withColumn("ship_day", dayS)
        val dayAvg = li.groupBy(col("ship_day"))
          .agg(R(avg(col("l_quantity")), 4).as("day_avg_qty"))
        li.join(broadcast(dayAvg), Seq("ship_day"))
          .select("l_orderkey", "l_linenumber", "ship_day", "day_avg_qty")
          .orderBy("l_orderkey", "l_linenumber", "ship_day", "day_avg_qty")
      },
      Some(s"""SELECT l_orderkey, l_linenumber,
              |  strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
              |  ${rs("avg(l_quantity) OVER (PARTITION BY strftime(l_shipdate, '%Y-%m-%d'))", 4)}
              |    AS day_avg_qty
              |FROM lineitem
              |ORDER BY l_orderkey, l_linenumber, ship_day, day_avg_qty""".stripMargin)),

    // A3: deterministic mode (ties → smallest value), pandas x.mode()[0]
    // semantics (v5_group_project_dag.py:176-177).
    QueryDef(
      "q08_mode_det",
      (s, dir) =>
        Aggregates
          .modeDeterministic(
            tbl(s, dir, "lineitem").withColumn("ship_month", monthS),
            Seq("ship_month"), "l_returnflag", "mode_returnflag")
          .orderBy("ship_month"),
      Some("""WITH counts AS (
             |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_returnflag, count(*) AS cnt
             |  FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 1, 2),
             |m AS (SELECT ship_month, l_returnflag, cnt,
             |             max(cnt) OVER (PARTITION BY ship_month) AS maxc FROM counts)
             |SELECT ship_month, min(l_returnflag) AS mode_returnflag
             |FROM m WHERE cnt = maxc GROUP BY ship_month ORDER BY ship_month""".stripMargin)),

    // A4: strict mode (tie among max counts → NULL), the reference's
    // get_precip_mode_or_nan (v5_group_project_dag.py:145-153).
    QueryDef(
      "q09_mode_strict",
      (s, dir) =>
        Aggregates
          .modeStrict(
            tbl(s, dir, "lineitem").withColumn("ship_month", monthS),
            Seq("ship_month"), "l_returnflag", "mode_returnflag_strict")
          .orderBy("ship_month"),
      Some("""WITH counts AS (
             |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_returnflag, count(*) AS cnt
             |  FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 1, 2),
             |m AS (SELECT ship_month, l_returnflag, cnt,
             |             max(cnt) OVER (PARTITION BY ship_month) AS maxc FROM counts)
             |SELECT ship_month,
             |  CASE WHEN count(*) = 1 THEN min(l_returnflag) END AS mode_returnflag_strict
             |FROM m WHERE cnt = maxc GROUP BY ship_month ORDER BY ship_month""".stripMargin)),

    // A2+N1: median imputation AFTER range-gating (order matters — the
    // median sees in-range values only, v5_group_project_dag.py:79-94).
    QueryDef(
      "q10_median_impute",
      (s, dir) => {
        val g = tbl(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          Cleaning.gateToNull(col("l_extendedprice"), Cleaning.Bounds.closed(1000, 50000))
            .as("price_gated"))
        // r17: exact median via Quantiles.exactPercentileValues (cell
        // layout + in-cell positional pick, bit-identical to median() —
        // PercentileParitySpec) instead of the exact-percentile buffer,
        // whose per-partition value map is data-sized state (guide §5);
        // the scalar embeds as a literal (a typed NULL when the gate
        // leaves no value, as median() gives), so the broadcast join goes too
        val medV = graft.ops.Quantiles
          .exactPercentileValues(g, col("price_gated"), Seq(0.5)).head
        g.select(
            col("l_orderkey"), col("l_linenumber"),
            R(coalesce(col("price_gated"), typedLit(medV)), 4).as("price_imputed"))
          .orderBy("l_orderkey", "l_linenumber", "price_imputed")
      },
      Some(s"""WITH g AS (
              |  SELECT l_orderkey, l_linenumber,
              |    CASE WHEN l_extendedprice BETWEEN 1000 AND 50000 THEN l_extendedprice END
              |      AS price_gated
              |  FROM lineitem),
              |m AS (SELECT median(price_gated) AS med FROM g)
              |SELECT l_orderkey, l_linenumber,
              |  ${rs("coalesce(price_gated, med)", 4)} AS price_imputed
              |FROM g CROSS JOIN m
              |ORDER BY l_orderkey, l_linenumber, price_imputed""".stripMargin)),

    // D1: dedup keeping the FIRST row per key under an explicit order
    // (pandas keep='first', v5_group_project_dag.py:97) — first order per
    // customer by (date, orderkey).
    QueryDef(
      "q11_dedup_first",
      (s, dir) =>
        Cleaning
          .dedupKeepFirst(
            tbl(s, dir, "orders"), Seq("o_custkey"),
            Seq(col("o_orderdate").asc, col("o_orderkey").asc))
          .select(
            col("o_custkey"), col("o_orderkey"),
            R(col("o_totalprice"), 4).as("first_price"))
          .orderBy("o_custkey"),
      Some(s"""WITH r AS (
              |  SELECT o_custkey, o_orderkey, o_totalprice,
              |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
              |  FROM orders)
              |SELECT o_custkey, o_orderkey, ${rs("o_totalprice", 4)} AS first_price
              |FROM r WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // D2: full-row distinct (v5_group_project_dag.py:198,203).
    QueryDef(
      "q12_distinct",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .select("l_returnflag", "l_linestatus")
          .distinct()
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus
             |FROM lineitem ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // O1 + target-spec top-k: global sort with deterministic tiebreak +
    // limit. Spark plans this as TakeOrderedAndProject (no full sort
    // materialization at scale).
    QueryDef(
      "q13_sort_topk",
      (s, dir) =>
        tbl(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
          .select(col("o_orderkey"), col("o_custkey"), R(col("o_totalprice"), 4).as("price_r")),
      Some(s"""SELECT o_orderkey, o_custkey, ${rs("o_totalprice", 4)} AS price_r
              |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // §2.9 validation gate, relational form: every check evaluated in ONE
    // aggregate pass; counts are the violation counts the fail-fast gate
    // would report (Validate.gate throws on the same numbers).
    QueryDef(
      "q14_validate_counts",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
        li.agg(
          count(lit(1)).as("n_rows"),
          count(when(col("l_quantity").isNull, 1)).as("null_qty"),
          count(when(col("l_extendedprice").isNull, 1)).as("null_price"),
          count(when(col("l_quantity").isNull || !col("l_quantity").between(1, 50), 1))
            .as("range_qty_viol"),
          count(when(col("l_discount").isNull || !col("l_discount").between(0, 0.08), 1))
            .as("range_disc_viol"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  count(CASE WHEN l_quantity IS NULL THEN 1 END) AS null_qty,
             |  count(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS null_price,
             |  count(CASE WHEN l_quantity IS NULL OR NOT (l_quantity BETWEEN 1 AND 50) THEN 1 END)
             |    AS range_qty_viol,
             |  count(CASE WHEN l_discount IS NULL OR NOT (l_discount BETWEEN 0 AND 0.08) THEN 1 END)
             |    AS range_disc_viol
             |FROM lineitem""".stripMargin)))
}

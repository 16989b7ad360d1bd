package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{Pack, Text}
import graft.ops.{Num, Scale}
import QueryDef.{moneySum, moneySumSql, registerViews, tbl}

/** Round-2 additions beyond the §2 inventory (q74-q96): large-scale
  * training-pipeline operators — Bloom-prefiltered joins (runtime
  * row-level filtering as a reusable operator), stratified deterministic
  * sampling, int8 embedding quantization, greedy sequence packing,
  * per-source quality retention, CDC compaction, incremental cross-batch
  * dedup — plus sketch algebra (HLL union, Count-Min heavy hitters,
  * approx quantiles: fixed-size state instead of keys crossing the wire
  * at 100 TB), the SQL-API TPC-H Q3/Q5 shapes (one SQL text valid in
  * both engines), the remaining relational surface (unpivot, null-safe
  * join, map/outer generators, column profiling, corr/covar, interval
  * RANGE frames, gap-fill + forward-fill), and event analytics
  * (conversion funnel, cohort retention).
  */
object Extended3 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  private val revSum = moneySumSql("l_extendedprice * (1 - l_discount)")

  private val sqlQ3 =
    s"""SELECT l_orderkey,
       |  $revSum AS revenue,
       |  CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_date,
       |  o_orderpriority
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < DATE '1997-06-01'
       |  AND l_shipdate > DATE '1997-06-01'
       |GROUP BY l_orderkey, CAST(CAST(o_orderdate AS DATE) AS STRING),
       |         o_orderpriority
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  private val sqlQ5 =
    s"""SELECT n_name, $revSum AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= DATE '1996-01-01'
       |  AND o_orderdate < DATE '1997-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  private val sqlQ18 =
    """SELECT c_name, o_orderkey,
      |  CAST(sum(l_quantity) AS BIGINT) AS total_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      |GROUP BY c_name, o_orderkey
      |ORDER BY total_qty DESC, o_orderkey
      |LIMIT 20""".stripMargin

  private val sqlQ4 =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= DATE '1996-01-01'
      |  AND o_orderdate < DATE '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  private val sqlQ17 =
    s"""SELECT p_brand,
       |  CAST(count(*) AS BIGINT) AS n_small,
       |  ${Num.roundSql(s"${moneySumSql("l_extendedprice")} / 7.0", 2)} AS avg_weekly
       |FROM lineitem
       |JOIN part ON p_partkey = l_partkey
       |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
       |                    WHERE l2.l_partkey = lineitem.l_partkey)
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // Bloom-prefiltered semi join: Bloom filter of the urgent-order keys
    // broadcast over the lineitem scan, exact semi join behind it. The
    // result is row-identical to the plain semi join (false positives are
    // removed by the exact join), so the oracle IS the plain join — same
    // contract as q64's salted join.
    QueryDef(
      "q74_bloom_semijoin",
      (s, dir) => {
        val keys = tbl(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("l_orderkey"))
        Scale
          .bloomSemiJoin(tbl(s, dir, "lineitem"), keys, "l_orderkey",
            expectedItems = 100000L, fpp = 0.01)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity")).cast("bigint").as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
             |FROM lineitem
             |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
             |                     WHERE o_orderpriority = '1-URGENT')
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Stratified deterministic sampling: per-language keep rates applied
    // via an md5 threshold on the document id — the language-rebalancing
    // step of corpus curation. Hash-keyed (not rand()) so the sample is
    // stable under retries/recomputation and reproducible across engines;
    // 'en' keeps md5 < '40' (≈ 25%), every other language keeps all ('g'
    // compares above any hex digit).
    QueryDef(
      "q75_stratified_sample",
      (s, dir) =>
        tbl(s, dir, "documents")
          .filter(md5(col("doc_id").cast("string")) <
            when(col("lang") === "en", "40").otherwise("g"))
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE md5(CAST(doc_id AS VARCHAR)) <
             |      (CASE WHEN lang = 'en' THEN '40' ELSE 'g' END)
             |ORDER BY doc_id""".stripMargin)),

    // Symmetric int8 quantization per embedding: scale = max|v|/127,
    // q_i = floor(v_i/scale + 0.5) (explicit half-up — floor is IEEE-exact
    // in both engines, unlike round()). Folded in ONE pass with the scale
    // computed in the aggregate's SEED, so CollapseProject cannot inline
    // the array_max into the per-element lambda (which would recompute it
    // per element — O(d^2) per row at scale).
    QueryDef(
      "q76_embed_quantize",
      (s, dir) => {
        val ed = col("embedding").cast("array<double>")
        val maxabs = array_max(transform(ed, x => abs(x)))
        val seed = struct(
          when(maxabs === 0.0, 1.0).otherwise(maxabs / 127.0).as("s"),
          lit(0L).as("qsum"), lit(Long.MaxValue).as("qmin"),
          lit(Long.MinValue).as("qmax"))
        val folded = aggregate(ed, seed, (acc, x) => {
          val q = floor(x / acc("s") + lit(0.5)).cast("long")
          struct(acc("s").as("s"), (acc("qsum") + q).as("qsum"),
            least(acc("qmin"), q).as("qmin"), greatest(acc("qmax"), q).as("qmax"))
        })
        tbl(s, dir, "embeddings")
          .select(col("vec_id"), folded.as("f"))
          .select(
            col("vec_id"),
            R(col("f.s"), 6).as("q_scale"),
            col("f.qsum").as("q_sum"),
            col("f.qmin").as("q_min"),
            col("f.qmax").as("q_max"))
          .orderBy("vec_id")
      },
      Some(s"""WITH m AS (
              |  SELECT vec_id,
              |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
              |      AS ma
              |  FROM embeddings),
              |sc AS (SELECT vec_id, CASE WHEN ma = 0 THEN 1.0 ELSE ma / 127.0 END
              |         AS s FROM m),
              |q AS (
              |  SELECT e.vec_id, sc.s,
              |    CAST(floor(CAST(e.embedding[i] AS DOUBLE) / sc.s + 0.5) AS BIGINT)
              |      AS q
              |  FROM embeddings e
              |  JOIN sc ON sc.vec_id = e.vec_id
              |  CROSS JOIN range(1, 65) t(i))
              |SELECT vec_id, ${rs("s", 6)} AS q_scale,
              |  CAST(sum(q) AS BIGINT) AS q_sum,
              |  min(q) AS q_min, max(q) AS q_max
              |FROM q GROUP BY vec_id, s ORDER BY vec_id""".stripMargin)),

    // Greedy sequence packing into 256-token context windows, bucketed by
    // doc_id % 8 (independent buckets = the parallelism knob; bin ids are
    // bucket-scoped). The oracle replays the same greedy walk as a
    // recursive CTE.
    QueryDef(
      "q77_pack_sequences",
      (s, dir) =>
        Pack
          .packGreedy(
            tbl(s, dir, "documents")
              .select(
                col("doc_id"),
                pmod(col("doc_id"), lit(8)).as("bucket"),
                size(Text.tokensNorm(col("text"))).cast("long").as("n_tokens")),
            "doc_id", "n_tokens", "bucket", capacity = 256L)
          .select(col("doc_id"), col("bucket"), col("bin_id"), col("n_tokens"))
          .orderBy("doc_id"),
      Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id % 8 AS bucket, doc_id,
             |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
             |      AS n_tokens,
             |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
             |  FROM documents),
             |r AS (
             |  SELECT bucket, rn, doc_id, n_tokens,
             |    CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
             |  FROM d WHERE rn = 1
             |  UNION ALL
             |  SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
             |    CASE WHEN r.fill + d.n_tokens <= 256 THEN r.bin_id
             |         ELSE r.bin_id + 1 END,
             |    CASE WHEN r.fill + d.n_tokens <= 256 THEN r.fill + d.n_tokens
             |         ELSE d.n_tokens END
             |  FROM r JOIN d ON d.bucket = r.bucket AND d.rn = r.rn + 1)
             |SELECT doc_id, bucket, bin_id, n_tokens FROM r
             |ORDER BY doc_id""".stripMargin)),

    // Per-source top-3 by quality score (domain-balanced retention — keep
    // the best k documents per source so no domain dominates the corpus).
    // Rank ties break on doc_id; (source, rnk) is a total output order.
    QueryDef(
      "q78_source_topk",
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id").asc)
        tbl(s, dir, "documents")
          .withColumn("__t", Text.tokensNorm(col("text")))
          .select(col("doc_id"), col("source"),
            Text.qualityScoreFromTokens(col("__t")).as("quality"))
          .withColumn("rnk", row_number().over(w).cast("bigint"))
          .filter(col("rnk") <= 3)
          .select(col("source"), col("rnk"), col("doc_id"), col("quality"))
          .orderBy("source", "rnk")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, source, len(${TextQueries.wsSql}) AS n,
              |    ${TextQueries.scoreSql(Text.stopwordsEn)} AS n_stop,
              |    len(list_distinct(${TextQueries.wsSql})) AS n_dist
              |  FROM documents),
              |q AS (SELECT doc_id, source,
              |        (n_stop / n) * 0.4 + (n_dist / n) * 0.3
              |          + least(1.0, n / 100.0) * 0.3 AS quality
              |      FROM t),
              |r AS (SELECT source, doc_id, quality,
              |        row_number() OVER (PARTITION BY source
              |          ORDER BY quality DESC, doc_id) AS rnk
              |      FROM q)
              |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, quality
              |FROM r WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin)),

    // CDC / log-compaction: latest record per key (ts desc, id desc as the
    // total tie-break). The oracle truncates its nanosecond timestamps to
    // the same microseconds Spark sees (CAST ts_ns -> TIMESTAMP truncates,
    // matching Tables.load's `ts div 1000`).
    QueryDef(
      "q79_latest_event",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        tbl(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id, event_type, value FROM (
             |  SELECT user_id, event_id, event_type, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Unpivot/melt: wide measures to long form (the inverse of q45's
    // pivot), re-aggregated per measure. Decimal-accumulated sums keep
    // the result order-independent and engine-exact.
    QueryDef(
      "q81_unpivot",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
            col("l_discount"))
          .unpivot(
            Array(col("l_orderkey")),
            Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
            "measure", "val")
          .groupBy(col("measure"))
          .agg(count(lit(1)).as("n"), moneySum(col("val")).as("sum_val"))
          .orderBy("measure"),
      Some(s"""WITH m AS (
              |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
              |  UNION ALL
              |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
              |  UNION ALL
              |  SELECT 'l_discount', l_discount FROM lineitem)
              |SELECT measure, count(*) AS n, ${moneySumSql("val")} AS sum_val
              |FROM m GROUP BY measure ORDER BY measure""".stripMargin)),

    // Time-series regularization: per-user hourly gap-fill (sequence +
    // explode builds the dense timeline — bounded per key, partitions
    // freely) with forward-fill via last(ignoreNulls) over an
    // unbounded-preceding frame. The first timeline hour always has data
    // (it is the user's min event hour), so v_fill is never null.
    QueryDef(
      "q82_gapfill",
      (s, dir) => {
        // shuffle once on user_id: the hourly agg is repartitioned to
        // user_id (tiny — post-agg), the timeline inherits user_id
        // partitioning from its span agg, so BOTH the (user_id, h) join
        // and the window reuse that distribution (subset-key clustering
        // satisfies the join; the window adds no Exchange). Sort on the
        // timestamp, render the string after — same order, 8-byte keys.
        val ev = tbl(s, dir, "events")
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg(R(avg(col("value")), 4).as("v"))
          .repartition(col("user_id"))
        val timeline = ev.groupBy(col("user_id"))
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        timeline
          .join(ev, Seq("user_id", "h"), "left")
          .select(
            col("user_id"), col("h"),
            last(col("v"), ignoreNulls = true).over(w).as("v_fill"),
            col("v").isNull.as("is_gap"))
          .orderBy("user_id", "h")
          .select(
            col("user_id"),
            date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("v_fill"), col("is_gap"))
      },
      Some(s"""WITH ev AS (
              |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
              |    ${rs("avg(value)", 4)} AS v
              |  FROM events GROUP BY 1, 2),
              |span AS (SELECT user_id, min(h) AS h0, max(h) AS h1
              |         FROM ev GROUP BY 1),
              |tl AS (SELECT user_id,
              |         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
              |       FROM span),
              |j AS (SELECT tl.user_id, tl.h, ev.v
              |      FROM tl LEFT JOIN ev ON ev.user_id = tl.user_id
              |                          AND ev.h = tl.h)
              |SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
              |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill,
              |  v IS NULL AS is_gap
              |FROM j ORDER BY user_id, hour""".stripMargin)),

    // Bivariate statistics battery: corr / covar_pop / var_pop /
    // stddev_pop per group — identical closed-form definitions in both
    // engines; rounding absorbs parallel-vs-sequential accumulation noise
    // (covar's absolute magnitude ~1e8 gets 2 decimals, normalized corr
    // gets 6).
    QueryDef(
      "q83_corr_stats",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            R(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
            R(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("covp_qp"),
            R(var_pop(col("l_discount")), 6).as("var_disc"),
            R(stddev_pop(col("l_quantity")), 4).as("sd_qty"))
          .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |  ${rs("corr(l_quantity, l_extendedprice)", 6)} AS corr_qp,
              |  ${rs("covar_pop(l_quantity, l_extendedprice)", 2)} AS covp_qp,
              |  ${rs("var_pop(l_discount)", 6)} AS var_disc,
              |  ${rs("stddev_pop(l_quantity)", 4)} AS sd_qty
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Column profiling: null counts, cardinalities, min/max per column in
    // ONE scan (ops/Profile) — the analyze step before/after every
    // transformation. The oracle unions per-column aggregate rows.
    QueryDef(
      "q84_profile",
      (s, dir) =>
        graft.ops.Profile
          .profile(tbl(s, dir, "lineitem"),
            Seq("l_orderkey", "l_returnflag", "l_linestatus", "l_shipdate"))
          .orderBy("col_name"),
      Some("""SELECT 'l_orderkey' AS col_name, count(l_orderkey) AS n_nonnull,
             |  count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS n_null,
             |  count(DISTINCT l_orderkey) AS n_distinct,
             |  CAST(min(l_orderkey) AS VARCHAR) AS min_s,
             |  CAST(max(l_orderkey) AS VARCHAR) AS max_s
             |FROM lineitem
             |UNION ALL
             |SELECT 'l_returnflag', count(l_returnflag),
             |  count(CASE WHEN l_returnflag IS NULL THEN 1 END),
             |  count(DISTINCT l_returnflag),
             |  CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
             |FROM lineitem
             |UNION ALL
             |SELECT 'l_linestatus', count(l_linestatus),
             |  count(CASE WHEN l_linestatus IS NULL THEN 1 END),
             |  count(DISTINCT l_linestatus),
             |  CAST(min(l_linestatus) AS VARCHAR), CAST(max(l_linestatus) AS VARCHAR)
             |FROM lineitem
             |UNION ALL
             |SELECT 'l_shipdate', count(l_shipdate),
             |  count(CASE WHEN l_shipdate IS NULL THEN 1 END),
             |  count(DISTINCT l_shipdate),
             |  CAST(min(l_shipdate) AS VARCHAR), CAST(max(l_shipdate) AS VARCHAR)
             |FROM lineitem
             |ORDER BY col_name""".stripMargin)),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): null keys
    // MATCH each other instead of dropping — the semantic needed when
    // joining on nullable natural keys. Key derived as nullif(status,'O')
    // so the fixture actually exercises the null bucket.
    QueryDef(
      "q85_nullsafe_join",
      (s, dir) => {
        val l = tbl(s, dir, "orders")
          .select(nullif(col("o_orderstatus"), lit("O")).as("k"))
        val r = l.distinct().withColumnRenamed("k", "rk")
        l.join(r, col("k") <=> col("rk"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("k").asc_nulls_first)
      },
      Some("""WITH l AS (SELECT nullif(o_orderstatus, 'O') AS k FROM orders),
             |r AS (SELECT DISTINCT k AS rk FROM l)
             |SELECT k, count(*) AS n FROM l JOIN r ON k IS NOT DISTINCT FROM rk
             |GROUP BY k ORDER BY k NULLS FIRST""".stripMargin)),

    // Map-type surface: JSON props to MapType, exploded into (key, value)
    // rows (the map generator), re-aggregated per key.
    QueryDef(
      "q86_map_explode",
      (s, dir) =>
        tbl(s, dir, "events")
          .select(col("event_id"),
            explode(from_json(col("props"),
              org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
              .as(Seq("k_name", "k_val")))
          .groupBy(col("k_name"))
          .agg(count(lit(1)).as("n"),
            sum(col("k_val").cast("bigint")).cast("bigint").as("sum_val"))
          .orderBy("k_name"),
      Some("""WITH m AS (SELECT event_id, unnest(json_keys(props)) AS k_name, props
             |           FROM events)
             |SELECT k_name, count(*) AS n,
             |  CAST(sum(CAST(json_extract_string(props, '$.' || k_name) AS BIGINT))
             |    AS BIGINT) AS sum_val
             |FROM m GROUP BY k_name ORDER BY k_name""".stripMargin)),

    // Deterministic collect: collect_set sorted then joined — the only
    // cross-engine-safe way to output a grouped collection (unsorted
    // collect order is partitioning-dependent).
    QueryDef(
      "q87_collect_sorted",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            array_join(array_sort(collect_set(col("l_linestatus"))), ",")
              .as("statuses"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
             |    AS statuses,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // SQL-API surface: the classic TPC-H shapes run through spark.sql over
    // registered views, with ONE SQL text that is valid in both engines
    // (the oracle IS the same string) — every function in it (sign/floor/
    // abs/DECIMAL/DATE literals) evaluates identically. Q3 shape:
    // shipping-priority top-10 (3-way join, filtered both sides, grouped
    // revenue, deterministic revenue-desc/key tie-break).
    QueryDef(
      "q88_sql_q3",
      (s, dir) => {
        registerViews(s, dir, Seq("customer", "orders", "lineitem"))
        s.sql(sqlQ3)
      },
      Some(sqlQ3)),

    // Q5 shape: local-supplier volume — 6-way join through the full star
    // (customer/orders/lineitem/supplier/nation/region) with the
    // c_nationkey = s_nationkey locality constraint.
    QueryDef(
      "q89_sql_q5",
      (s, dir) => {
        registerViews(s, dir,
          Seq("customer", "orders", "lineitem", "supplier", "nation", "region"))
        s.sql(sqlQ5)
      },
      Some(sqlQ5)),

    // Time-interval RANGE frame (vs q24's row frames): per-user trailing
    // 24-hour event count/sum, keyed on epoch seconds so the frame bound
    // is a true time interval — rows land in the frame by VALUE distance,
    // not row position (sparse activity gets small frames, bursts large
    // ones). (user_id, ts, event_id) ordering is total.
    QueryDef(
      "q90_range_frame",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").cast("long"))
          .rangeBetween(-86400L, 0L)
        tbl(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          // both frame aggregates in ONE projection — separate withColumn
          // calls planned two Window operators with an extra sort between
          .select(col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            col("event_id"),
            count(lit(1)).over(w).as("n_24h"),
            R(sum(col("value")).over(w), 4).as("sum_24h"))
          .orderBy("user_id", "ts_s", "event_id")
      },
      Some(s"""SELECT user_id,
              |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
              |  event_id,
              |  count(*) OVER w AS n_24h,
              |  ${rs("sum(value) OVER w", 4)} AS sum_24h
              |FROM events
              |WINDOW w AS (PARTITION BY user_id
              |  ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
              |  RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
              |ORDER BY user_id, ts_s, event_id""".stripMargin)),

    // Incremental (cross-batch) dedup: keep a NEW batch's documents only
    // if their content fingerprint is unseen in the HISTORY partition —
    // the anti-join-on-fingerprints shape every nightly ingest runs
    // (history side is a pre-computed fingerprint store at scale).
    QueryDef(
      "q91_incremental_dedup",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .withColumn("fp", Text.fingerprintMd5(col("text")))
        val history = docs
          .filter(col("source").isin("src1", "src2", "src3", "src4", "src5"))
          .select(col("fp"))
        docs
          .filter(!col("source").isin("src1", "src2", "src3", "src4", "src5"))
          .join(history, Seq("fp"), "left_anti")
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source,
             |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
             |  FROM documents),
             |h AS (SELECT fp FROM d
             |      WHERE source IN ('src1','src2','src3','src4','src5'))
             |SELECT doc_id, source FROM d
             |WHERE source NOT IN ('src1','src2','src3','src4','src5')
             |  AND fp NOT IN (SELECT fp FROM h)
             |ORDER BY doc_id""".stripMargin)),

    // Outer generator: explode_outer keeps a parent row (null element)
    // when its array is empty — the LEFT-JOIN-shaped explode. Filter to
    // long tokens so the fixture actually produces empty arrays; the
    // oracle reconstructs the same semantics as exploded ∪ empty-as-null.
    QueryDef(
      "q92_explode_outer",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            explode_outer(filter(Text.tokensNorm(col("text")),
              t => length(t) > 7)).as("tok"))
          .orderBy(col("doc_id"), col("tok").asc_nulls_first),
      Some("""WITH w AS (SELECT doc_id,
             |  list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |              x -> len(x) > 7) AS fl
             |  FROM documents)
             |SELECT doc_id, unnest(fl) AS tok FROM w WHERE len(fl) > 0
             |UNION ALL
             |SELECT doc_id, NULL FROM w WHERE len(fl) = 0
             |ORDER BY doc_id, tok NULLS FIRST""".stripMargin)),

    // HLL sketch algebra: per-month part sketches unioned into one global
    // estimate — the scale pattern for distinct-count over 100 TB (each
    // partition ships a fixed-size sketch, never its keys). DataSketches
    // HLL is register-max based, so insertion/union order cannot change
    // the result. The estimate is checked IN-ROW against the exact
    // distinct count (lgK=12 ⇒ rse ≈ 1.6%; ±5% is > 3σ); the oracle
    // recomputes the exact column and pins est_ok to TRUE.
    QueryDef(
      "q80_hll_union",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
        val est = li
          .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
          .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("__approx"))
        li.agg(countDistinct(col("l_partkey")).as("n_parts_exact"))
          .crossJoin(est)
          .select(
            col("n_parts_exact"),
            (abs(col("__approx").cast("double") - col("n_parts_exact").cast("double")) /
              col("n_parts_exact").cast("double") <= 0.05).as("est_ok"))
      },
      Some("""SELECT count(DISTINCT l_partkey) AS n_parts_exact, TRUE AS est_ok
             |FROM lineitem""".stripMargin)),

    // Count-Min sketch heavy hitters: one fixed-size sketch over the fact
    // table (counter merges are commutative — order-independent,
    // deterministic for a fixed seed), probed for the top-5 exact heavy
    // keys. The CM guarantee is one-sided — exact_n ≤ est ≤ exact_n +
    // eps·N (w.p. ≥ confidence) — and `est_ok` asserts exactly that
    // IN-ROW; the oracle recomputes the exact columns and pins est_ok to
    // TRUE, so a broken sketch/probe hash-fails. At 100 TB the sketch
    // replaces a full groupBy for frequency triage: each partition ships
    // 1000×7 counters, not keys.
    QueryDef(
      "q93_countmin_probe",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
        val cms = li.agg(
          expr("count_min_sketch(l_partkey, 0.001d, 0.99d, 42)").as("sk"),
          count(lit(1)).as("__n"))
        val top = li.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("l_partkey").asc)
          .limit(5)
        val probe = udf((sk: Array[Byte], k: Long) =>
          org.apache.spark.util.sketch.CountMinSketch
            .readFrom(new java.io.ByteArrayInputStream(sk))
            .estimateCount(k))
        top.crossJoin(broadcast(cms))
          .withColumn("__est", probe(col("sk"), col("l_partkey")))
          .select(col("l_partkey"), col("exact_n"),
            (col("__est") >= col("exact_n") &&
              col("__est").cast("double") <=
                col("exact_n").cast("double") + lit(0.001) * col("__n").cast("double"))
              .as("est_ok"))
          .orderBy("l_partkey")
      },
      Some("""WITH t AS (SELECT l_partkey, count(*) AS exact_n FROM lineitem
             |           GROUP BY 1 ORDER BY exact_n DESC, l_partkey LIMIT 5)
             |SELECT l_partkey, exact_n, TRUE AS est_ok FROM t
             |ORDER BY l_partkey""".stripMargin)),

    // Ordered funnel with conversion windows: view → click within 1 h →
    // purchase within 1 h, staged as three keyed aggregates (each stage's
    // min-ts joins the next — no window over the full event stream
    // needed). Output is the funnel histogram.
    QueryDef(
      "q95_funnel",
      (s, dir) => {
        val ev = tbl(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type"))
        val t1 = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val t2 = ev.filter(col("event_type") === "click")
          .join(t1, "user_id")
          .filter(col("ts") > col("t1") &&
            col("ts") <= col("t1") + expr("interval 1 hour"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        val t3 = ev.filter(col("event_type") === "purchase")
          .join(t2, "user_id")
          .filter(col("ts") > col("t2") &&
            col("ts") <= col("t2") + expr("interval 1 hour"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
        t1.join(t2.select(col("user_id"), lit(1).as("s2")), Seq("user_id"), "left")
          .join(t3.select(col("user_id"), lit(1).as("s3")), Seq("user_id"), "left")
          .select(
            when(col("s3").isNotNull, 3L)
              .when(col("s2").isNotNull, 2L)
              .otherwise(1L).as("stage_reached"))
          .groupBy(col("stage_reached"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("stage_reached")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
             |           FROM events),
             |t1 AS (SELECT user_id, min(ts) AS t1 FROM e
             |       WHERE event_type = 'view' GROUP BY 1),
             |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e
             |       JOIN t1 ON t1.user_id = e.user_id
             |       WHERE e.event_type = 'click' AND e.ts > t1.t1
             |         AND e.ts <= t1.t1 + INTERVAL 1 HOUR GROUP BY 1),
             |t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e
             |       JOIN t2 ON t2.user_id = e.user_id
             |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2
             |         AND e.ts <= t2.t2 + INTERVAL 1 HOUR GROUP BY 1)
             |SELECT CAST(CASE WHEN t3.user_id IS NOT NULL THEN 3
             |            WHEN t2.user_id IS NOT NULL THEN 2
             |            ELSE 1 END AS BIGINT) AS stage_reached,
             |  count(*) AS n_users
             |FROM t1
             |LEFT JOIN t2 ON t2.user_id = t1.user_id
             |LEFT JOIN t3 ON t3.user_id = t1.user_id
             |GROUP BY 1 ORDER BY stage_reached""".stripMargin)),

    // Cohort retention: users grouped by first-activity week, counted in
    // each subsequent activity week (offset in whole weeks — both
    // engines truncate weeks to ISO Monday, so the day diff is an exact
    // multiple of 7).
    QueryDef(
      "q96_cohort",
      (s, dir) => {
        val wk = date_trunc("week", col("ts"))
        val act = tbl(s, dir, "events")
          .select(col("user_id"), wk.as("wk")).distinct()
        val cohort = act.groupBy(col("user_id")).agg(min(col("wk")).as("c0"))
        act.join(cohort, "user_id")
          .select(
            date_format(col("c0"), "yyyy-MM-dd").as("cohort_week"),
            (datediff(col("wk"), col("c0")) / 7).cast("bigint").as("week_offset"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH a AS (SELECT DISTINCT user_id,
             |             date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
             |           FROM events),
             |c AS (SELECT user_id, min(wk) AS c0 FROM a GROUP BY 1)
             |SELECT strftime(c.c0, '%Y-%m-%d') AS cohort_week,
             |  CAST(date_diff('day', c.c0, a.wk) / 7 AS BIGINT) AS week_offset,
             |  count(*) AS n_users
             |FROM a JOIN c ON c.user_id = a.user_id
             |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)),

    // SQL subquery surface, Q18 shape: HAVING over a grouped IN-subquery
    // (large-volume orders). Quantities are integral doubles, so the sums
    // in both HAVING and output are exact in any order.
    QueryDef(
      "q98_sql_q18",
      (s, dir) => {
        registerViews(s, dir, Seq("customer", "orders", "lineitem"))
        s.sql(sqlQ18)
      },
      Some(sqlQ18)),

    // Q4 shape: correlated EXISTS — orders with at least one late
    // lineitem, counted per priority (the decorrelation-to-semi-join
    // planner path).
    QueryDef(
      "q99_sql_q4",
      (s, dir) => {
        registerViews(s, dir, Seq("orders", "lineitem"))
        s.sql(sqlQ4)
      },
      Some(sqlQ4)),

    // Q17 shape: correlated SCALAR subquery — rows under half their
    // part's mean quantity. The threshold is exact cross-engine: integral
    // quantities sum exactly in double regardless of order, so avg and
    // 0.5*avg are bit-identical.
    QueryDef(
      "q100_sql_q17",
      (s, dir) => {
        registerViews(s, dir, Seq("lineitem", "part"))
        s.sql(sqlQ17)
      },
      Some(sqlQ17)),

    // Fuzzy entity matching by edit distance: corrupted name variants
    // (vowels stripped) matched back to the canonical dimension via
    // levenshtein ≤ 4 — the record-linkage shape. Dims are broadcast-small
    // here; at scale you block first (q36/q37's shingle/LSH machinery)
    // and reserve edit distance for verification.
    QueryDef(
      "q97_fuzzy_match",
      (s, dir) => {
        val canon = tbl(s, dir, "nation").select(col("n_name"))
        val variants = tbl(s, dir, "nation")
          .select(col("n_nationkey"),
            regexp_replace(lower(col("n_name")), "[aeiou]", "").as("variant"))
        variants
          .crossJoin(broadcast(canon))
          .withColumn("dist", levenshtein(col("variant"), lower(col("n_name"))))
          .filter(col("dist") <= 4)
          .select(col("n_nationkey"), col("variant"), col("n_name"),
            col("dist").cast("bigint").as("dist"))
          .orderBy("n_nationkey", "n_name")
      },
      Some("""WITH v AS (SELECT n_nationkey,
             |             regexp_replace(lower(n_name), '[aeiou]', '', 'g') AS variant
             |           FROM nation),
             |c AS (SELECT n_name FROM nation)
             |SELECT n_nationkey, variant, n_name,
             |  CAST(levenshtein(variant, lower(n_name)) AS BIGINT) AS dist
             |FROM v CROSS JOIN c
             |WHERE levenshtein(variant, lower(n_name)) <= 4
             |ORDER BY n_nationkey, n_name""".stripMargin)),

    // Approximate quantiles (Greenwald-Khanna summaries, mergeable
    // partial state) — the 100 TB path beside q47's exact sort-based
    // percentiles: each partition ships a bounded summary, never its
    // values. The GK guarantee (returned element's rank within
    // ±n/accuracy of the target) is asserted IN-ROW: the estimates'
    // exact ranks are counted against the data and est_ok pins the rank
    // error; output columns are the EXACT percentiles (DuckDB
    // quantile_cont parity, q47's recipe) + est_ok, which the oracle
    // pins to TRUE.
    QueryDef(
      "q94_approx_percentiles",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"))
        // r17: the EXACT side comes from Quantiles.exactPercentilesByKey
        // (bit-identical to the grouped percentile aggregate —
        // PercentileParitySpec) instead of the exact-percentile buffer;
        // the GK sketch stays the percentile_approx aggregate — the
        // mergeable-summary path is this query's subject
        val exRel = graft.ops.Quantiles.exactPercentilesByKey(
          li, Seq("l_returnflag"), col("l_extendedprice"),
          Seq(0.5, 0.95, 0.99), Seq("ex0", "ex1", "ex2"))
        val agg = li.groupBy(col("l_returnflag"))
          .agg(
            percentile_approx(col("l_extendedprice"),
              array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("ap"),
            count(lit(1)).as("n"))
          .join(broadcast(exRel), "l_returnflag")
          .withColumn("ex", array(col("ex0"), col("ex1"), col("ex2")))
        val rankAggs =
          Seq(first(col("ap")).as("ap"), first(col("ex")).as("ex"),
            first(col("n")).as("n")) ++
            (0 until 3).flatMap(i => Seq(
              count(when(col("l_extendedprice") < col("ap").getItem(i), 1)).as(s"lt$i"),
              count(when(col("l_extendedprice") <= col("ap").getItem(i), 1)).as(s"le$i")))
        val ranked = li.join(agg, "l_returnflag")
          .groupBy(col("l_returnflag"))
          .agg(rankAggs.head, rankAggs.tail: _*)
        def ok(i: Int, qt: Double): Column = {
          val slack = col("n").cast("double") / 10000.0 + 2.0
          val target = lit(qt) * col("n").cast("double")
          col(s"le$i").cast("double") >= target - slack &&
            col(s"lt$i").cast("double") <= target + slack
        }
        ranked.select(
          col("l_returnflag"),
          R(col("ex").getItem(0), 4).as("p50_exact"),
          R(col("ex").getItem(1), 4).as("p95_exact"),
          R(col("ex").getItem(2), 4).as("p99_exact"),
          (ok(0, 0.5) && ok(1, 0.95) && ok(2, 0.99)).as("est_ok"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag,
              |  ${rs("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50_exact,
              |  ${rs("quantile_cont(l_extendedprice, 0.95)", 4)} AS p95_exact,
              |  ${rs("quantile_cont(l_extendedprice, 0.99)", 4)} AS p99_exact,
              |  TRUE AS est_ok
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)))
}

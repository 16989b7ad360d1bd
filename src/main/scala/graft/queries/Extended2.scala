package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.Corpus
import graft.ops.{Num, Scale}
import QueryDef.{moneySum, moneySumSql, tbl}

/** Round-2 widening of the operator surface: the remaining join types
  * (full outer, cross, non-equi band join, salted skew join), generator /
  * navigation-window / string / regexp batteries, and the curation ops a
  * training-data pipeline runs at scale — digit-scrub (PII-shaped
  * masking), intra-doc repetition scoring, benchmark contamination, and
  * TF-IDF term ranking — plus per-vector embedding stats through the
  * codegen'd vec_dot expression.
  */
object Extended2 {

  private def R(c: org.apache.spark.sql.Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  // DuckDB token relation mirroring Corpus.tokenRel (1000-element range
  // bound covers any fixture doc, same bound as TextQueries' shingle CTE)
  private val tokenCte =
    """w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
      |      FROM documents),
      |t AS (SELECT doc_id, i - 1 AS pos, ws[i] AS tok
      |      FROM w CROSS JOIN range(1, 1000) r(i)
      |      WHERE i <= len(ws) AND ws[i] <> '')""".stripMargin

  // DuckDB distinct-3-shingle relation mirroring Dedup.shingleRel
  private val shingleCte =
    """w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
      |      FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |       FROM w CROSS JOIN range(1, 1000) t(i) WHERE i <= len(ws) - 2)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // Full outer join: per-nation customer counts vs supplier counts —
    // either side may be missing a nation, both sides' nulls surface.
    QueryDef(
      "q53_join_full",
      (s, dir) => {
        val cn = tbl(s, dir, "customer")
          .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_cust"))
        val sn = tbl(s, dir, "supplier")
          .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_supp"))
        cn.join(sn, col("nk_c") === col("nk_s"), "full")
          .select(
            coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy("nationkey")
      },
      Some("""WITH cn AS (SELECT c_nationkey AS nk, count(*) AS n_cust
             |            FROM customer GROUP BY 1),
             |     sn AS (SELECT s_nationkey AS nk, count(*) AS n_supp
             |            FROM supplier GROUP BY 1)
             |SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
             |  COALESCE(n_cust, CAST(0 AS BIGINT)) AS n_cust,
             |  COALESCE(n_supp, CAST(0 AS BIGINT)) AS n_supp
             |FROM cn FULL JOIN sn ON cn.nk = sn.nk ORDER BY nationkey""".stripMargin)),

    // Cross join (cartesian of two small dimensions — the one join shape
    // that is only ever sane when at least one side is tiny/broadcast).
    QueryDef(
      "q54_join_cross",
      (s, dir) =>
        tbl(s, dir, "nation")
          .crossJoin(tbl(s, dir, "region"))
          .select(col("n_name"), col("r_name"))
          .orderBy("n_name", "r_name"),
      Some("""SELECT n_name, r_name FROM nation CROSS JOIN region
             |ORDER BY n_name, r_name""".stripMargin)),

    // Generator (UDTF) surface: posexplode of the token array — corpus
    // top-20 tokens with document frequency and earliest position.
    QueryDef(
      "q55_explode_tokens",
      (s, dir) =>
        Corpus.tokenRel(tbl(s, dir, "documents"), "doc_id", "text")
          .groupBy(col("tok"))
          .agg(
            count(lit(1)).as("n_occ"),
            countDistinct(col("doc_id")).as("doc_freq"),
            min(col("pos")).cast("bigint").as("min_pos"))
          .orderBy(col("n_occ").desc, col("tok").asc)
          .limit(20),
      Some(s"""WITH $tokenCte
              |SELECT tok, count(*) AS n_occ, count(DISTINCT doc_id) AS doc_freq,
              |  CAST(min(pos) AS BIGINT) AS min_pos
              |FROM t GROUP BY tok ORDER BY n_occ DESC, tok LIMIT 20""".stripMargin)),

    // String-function battery (all codegen'd built-ins; every function
    // has identical 1-based/edge semantics in DuckDB).
    QueryDef(
      "q56_string_funcs",
      (s, dir) =>
        tbl(s, dir, "part")
          .select(
            col("p_partkey"),
            concat_ws("|", col("p_brand"), col("p_type")).as("tag"),
            lpad(col("p_size").cast("string"), 3, "0").as("size_pad"),
            substring(col("p_name"), 1, 5).as("name5"),
            replace(col("p_name"), lit(" "), lit("_")).as("name_snake"),
            reverse(col("p_brand")).as("brand_rev"),
            instr(col("p_name"), "e").cast("bigint").as("first_e"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |  concat_ws('|', p_brand, p_type) AS tag,
             |  lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_pad,
             |  substring(p_name, 1, 5) AS name5,
             |  replace(p_name, ' ', '_') AS name_snake,
             |  reverse(p_brand) AS brand_rev,
             |  CAST(instr(p_name, 'e') AS BIGINT) AS first_e
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Regexp extraction of a typed key from semi-structured text
    // (capture-group → int), re-aggregated.
    QueryDef(
      "q57_regexp_extract",
      (s, dir) =>
        tbl(s, dir, "part")
          .select(
            regexp_extract(col("p_brand"), "Brand#([0-9]+)", 1).cast("bigint").as("brand_num"),
            col("p_retailprice"))
          .groupBy(col("brand_num"))
          .agg(count(lit(1)).as("n"), R(avg(col("p_retailprice")), 4).as("avg_price"))
          .orderBy("brand_num"),
      Some(s"""SELECT CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS BIGINT) AS brand_num,
              |  count(*) AS n, ${rs("avg(p_retailprice)", 4)} AS avg_price
              |FROM part GROUP BY 1 ORDER BY brand_num""".stripMargin)),

    // Navigation/distribution window battery: ntile, percent_rank,
    // cume_dist, first/last/nth value. Window ordering is total
    // (o_orderkey unique) so every function is deterministic; the
    // rank-derived doubles are exact integer ratios — identical in both
    // engines (rounded only as belt-and-braces). SCALE SHAPE:
    // `o_orderpriority` has FIVE values, so native windows would sort
    // N/5 orders in one task each at 100 TB. With a TOTAL (tie-free)
    // ordering every one of these functions is a pure function of
    // (row_number, partition size, boundary keys), so the query rebases
    // on PrefixSum.rank (distributed exact rank) plus one 5-row
    // per-priority rollup (count + rank-1/2/N keys via conditional aggs)
    // broadcast back: percent_rank = (rn−1)/(N−1), cume_dist = rn/N,
    // ntile = the exactNtile split arithmetic, first/last/nth = the
    // rollup's boundary keys.
    QueryDef(
      "q58_window_nav",
      (s, dir) => {
        val ranked = graft.ops.PrefixSum.rank(
          tbl(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
          Seq("o_orderpriority"), col("o_totalprice"), ascending = false,
          Seq(col("o_orderkey")), "__rn")
        val stats = ranked.groupBy(col("o_orderpriority")).agg(
          count(lit(1)).as("__n"),
          max(when(col("__rn") === 1, col("o_orderkey"))).as("top_key"),
          max(when(col("__rn") === 2, col("o_orderkey"))).as("second_key"),
          max_by(col("o_orderkey"), col("__rn")).as("bottom_key"))
        // ntile(4) from rank + partition size — the exactNtile split with
        // integral DIV (see Quantiles: double division can cross a floor)
        val q4 = expr("__n DIV 4L")
        val r4 = col("__n") % 4L
        val cut = (q4 + 1L) * r4
        val tile = when(q4 === 0L, col("__rn")).otherwise(
          when(col("__rn") <= cut,
            expr("(__rn - 1L) DIV (__n DIV 4L + 1L)") + 1L)
            .otherwise(r4 + expr("(__rn - (__n DIV 4L + 1L) * (__n % 4L) - 1L) DIV (__n DIV 4L)") + 1L))
        ranked.join(broadcast(stats), Seq("o_orderpriority"))
          .select(
            col("o_orderkey"), col("o_orderpriority"),
            tile.cast("bigint").as("tile"),
            R((col("__rn") - 1L).cast("double") /
              when(col("__n") > 1L, (col("__n") - 1L).cast("double")).otherwise(lit(1.0)),
              8).as("pr"),
            R(col("__rn").cast("double") / col("__n").cast("double"), 8).as("cd"),
            col("top_key"),
            col("bottom_key"),
            when(col("__n") >= 2L, col("second_key")).as("second_key"))
          .orderBy(col("o_orderpriority"), col("pr"), col("o_orderkey"))
      },
      Some(s"""SELECT o_orderkey, o_orderpriority,
              |  CAST(ntile(4) OVER w AS BIGINT) AS tile,
              |  ${rs("percent_rank() OVER w", 8)} AS pr,
              |  ${rs("cume_dist() OVER w", 8)} AS cd,
              |  first_value(o_orderkey) OVER w AS top_key,
              |  last_value(o_orderkey) OVER
              |    (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
              |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_key,
              |  nth_value(o_orderkey, 2) OVER
              |    (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
              |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
              |FROM orders
              |WINDOW w AS (PARTITION BY o_orderpriority
              |             ORDER BY o_totalprice DESC, o_orderkey)
              |ORDER BY o_orderpriority, pr, o_orderkey""".stripMargin)),

    // Non-equi band (range) join against a tiny literal dimension —
    // planned as a broadcast nested-loop, the right shape when one side
    // is a handful of interval rows.
    QueryDef(
      "q59_band_join",
      (s, dir) => {
        import s.implicits._
        // fixture p_retailprice spans [900, 1000) — bands chosen to split it
        val bands = Seq(
          ("B1_budget", 0.0, 925.0), ("B2_mid", 925.0, 950.0),
          ("B3_premium", 950.0, 975.0), ("B4_luxury", 975.0, 1.0e12))
          .toDF("band", "lo", "hi")
        tbl(s, dir, "part")
          .join(broadcast(bands),
            col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n"), R(avg(col("p_retailprice")), 4).as("avg_price"))
          .orderBy("band")
      },
      Some(s"""SELECT band, count(*) AS n, ${rs("avg(p_retailprice)", 4)} AS avg_price
              |FROM part
              |JOIN (VALUES ('B1_budget', 0.0, 925.0), ('B2_mid', 925.0, 950.0),
              |             ('B3_premium', 950.0, 975.0), ('B4_luxury', 975.0, 1e12))
              |  b(band, lo, hi)
              |  ON p_retailprice >= lo AND p_retailprice < hi
              |GROUP BY band ORDER BY band""".stripMargin)),

    // Digit-run scrub (the PII-masking shape: mask spans, count what was
    // masked, key on the redacted form) over the events props strings.
    QueryDef(
      "q60_digit_scrub",
      (s, dir) =>
        tbl(s, dir, "events")
          .select(
            col("event_type"),
            regexp_replace(col("props"), "[0-9]+", "#").as("masked"),
            size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0))).as("n_runs"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("n_runs")).cast("bigint").as("digit_runs"),
            countDistinct(col("masked")).as("n_masked_forms"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS digit_runs,
             |  count(DISTINCT regexp_replace(props, '[0-9]+', '#', 'g')) AS n_masked_forms
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Intra-document repetition (boilerplate/keyword-stuffing filter):
    // most-frequent-token share of each document.
    QueryDef(
      "q61_doc_repetition",
      (s, dir) =>
        Corpus.repetitionStats(tbl(s, dir, "documents"), "doc_id", "text")
          .select(
            col("doc_id"), col("n_tokens"), col("top_tok_n"),
            R(col("top_ratio"), 6).as("top_ratio_r"),
            (col("top_ratio") >= 0.12).as("is_repetitive"))
          .orderBy("doc_id"),
      Some(s"""WITH $tokenCte,
              |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
              |a AS (SELECT doc_id, max(tf) AS top_tok_n, CAST(sum(tf) AS BIGINT) AS n_tokens
              |      FROM tf GROUP BY doc_id)
              |SELECT doc_id, n_tokens, top_tok_n,
              |  ${rs("CAST(top_tok_n AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)} AS top_ratio_r,
              |  CAST(top_tok_n AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.12 AS is_repetitive
              |FROM a ORDER BY doc_id""".stripMargin)),

    // Benchmark-contamination rates: fraction of each non-benchmark
    // document's distinct 3-shingles that appear in the src0 "benchmark"
    // slice. The decontamination primitive of eval-aware training
    // pipelines.
    QueryDef(
      "q62_contamination",
      (s, dir) =>
        Corpus
          .contaminationRates(
            tbl(s, dir, "documents"), "doc_id", "text", col("source") === "src0", 3)
          .select(col("doc_id"), col("n_sh"), col("n_contam"), R(col("rate"), 6).as("rate_r"))
          .orderBy("doc_id"),
      Some(s"""WITH $shingleCte,
              |b AS (SELECT DISTINCT shingle FROM sh
              |      JOIN documents d ON sh.doc_id = d.doc_id WHERE d.source = 'src0'),
              |r AS (SELECT sh.doc_id, sh.shingle FROM sh
              |      JOIN documents d ON sh.doc_id = d.doc_id WHERE d.source <> 'src0')
              |SELECT r.doc_id, count(*) AS n_sh, count(b.shingle) AS n_contam,
              |  ${rs("CAST(count(b.shingle) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS rate_r
              |FROM r LEFT JOIN b ON r.shingle = b.shingle
              |GROUP BY r.doc_id ORDER BY doc_id""".stripMargin)),

    // Per-vector embedding stats: dim, L2 norm (through the codegen'd
    // vec_dot expression), mean, min, max — float elements widened to
    // double on both sides, ascending-index folds, so doubles match
    // bit-for-bit (same recipe as q39's oracle).
    QueryDef(
      "q63_embed_stats",
      (s, dir) => {
        graft.functions.VectorExpressions.register(s)
        tbl(s, dir, "embeddings")
          .withColumn("ed", col("embedding").cast("array<double>"))
          .select(
            col("vec_id"),
            size(col("ed")).cast("bigint").as("n_dim"),
            R(sqrt(graft.functions.VectorExpressions.vecDot(col("ed"), col("ed"))), 4)
              .as("norm_r"),
            R(aggregate(col("ed"), lit(0.0), (acc, x) => acc + x) /
              size(col("ed")).cast("double"), 6).as("mean_r"),
            R(array_min(col("ed")), 4).as("vmin"),
            R(array_max(col("ed")), 4).as("vmax"))
          .orderBy("vec_id")
      },
      Some(s"""SELECT vec_id, count(*) AS n_dim,
              |  ${rs("sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))", 4)}
              |    AS norm_r,
              |  ${rs("sum(CAST(embedding[i] AS DOUBLE)) / count(*)", 6)} AS mean_r,
              |  ${rs("min(CAST(embedding[i] AS DOUBLE))", 4)} AS vmin,
              |  ${rs("max(CAST(embedding[i] AS DOUBLE))", 4)} AS vmax
              |FROM embeddings CROSS JOIN range(1, 65) t(i)
              |GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // Salted skew join, driver-visible: content-derived salt on the fact
    // side, 8× replicated dimension, join on (key, salt) — row-identical
    // to the plain join (the oracle IS the plain join).
    QueryDef(
      "q64_salted_join",
      (s, dir) => {
        val cust = tbl(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
        Scale.saltedJoin(tbl(s, dir, "orders"), cust, "o_custkey", 8)
          .groupBy(col("c_nationkey"))
          .agg(
            count(lit(1)).as("n_orders"),
            moneySum(col("o_totalprice")).as("total_spent"))
          .orderBy("c_nationkey")
      },
      Some(s"""SELECT c_nationkey, count(*) AS n_orders,
              |  ${moneySumSql("o_totalprice")} AS total_spent
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // TF-IDF top-3 terms per document — ranking on exact integers
    // (tf DESC, token ASC), the smoothed-idf score output-only.
    QueryDef(
      "q65_tfidf",
      (s, dir) =>
        Corpus.tfidfTopK(tbl(s, dir, "documents"), "doc_id", "text", 3)
          .select(col("doc_id"), col("rnk"), col("tok"), col("tf"), R(col("score"), 4).as("score_r"))
          .orderBy("doc_id", "rnk"),
      Some(s"""WITH $tokenCte,
              |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
              |dfreq AS (SELECT tok, count(*) AS df_t FROM tf GROUP BY 1),
              |n AS (SELECT count(*) AS n_docs FROM documents),
              |r AS (SELECT doc_id, tok, tf,
              |        row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, tok) AS rnk
              |      FROM tf)
              |SELECT doc_id, rnk, tok, tf,
              |  ${rs("tf * (ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df_t + 1 AS DOUBLE)) + 1)", 4)}
              |    AS score_r
              |FROM r JOIN dfreq USING (tok) CROSS JOIN n
              |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    // Deterministic content-hash train/val split: md5 of the normalized
    // text compared lexicographically against a hex threshold — engine-
    // independent, reproducible, and stable under re-partitioning /
    // re-ingestion (row ids or rand() are neither). 'e6'/'100' ≈ 89.8%.
    QueryDef(
      "q66_train_split",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(
            col("lang"),
            when(graft.ext.Text.fingerprintMd5(col("text")) < "e6", "train")
              .otherwise("val").as("split"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "split"),
      Some("""SELECT lang,
             |  CASE WHEN md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) < 'e6'
             |       THEN 'train' ELSE 'val' END AS split,
             |  count(*) AS n_docs
             |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // Corpus token-count histogram (fixed-width buckets) — the length
    // distribution every curation pipeline reports before/after filtering.
    QueryDef(
      "q67_token_hist",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select((floor(size(graft.ext.Text.tokensNorm(col("text"))) / 10) * 10)
            .cast("bigint").as("bucket_lo"))
          .groupBy(col("bucket_lo"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("bucket_lo"),
      Some("""SELECT CAST(floor(len(string_split_regex(trim(lower(text)), '\s+')) / 10) * 10
             |         AS BIGINT) AS bucket_lo,
             |  count(*) AS n_docs
             |FROM documents GROUP BY 1 ORDER BY bucket_lo""".stripMargin)),

    // Cross-modal join (documents ⋈ embeddings on doc_id = vec_id):
    // text-quality score aggregated per embedding cluster label.
    QueryDef(
      "q68_quality_by_cluster",
      (s, dir) => {
        val q = tbl(s, dir, "documents")
          .withColumn("__t", graft.ext.Text.tokensNorm(col("text")))
          .select(col("doc_id"),
            graft.ext.Text.qualityScoreFromTokens(col("__t")).as("quality"))
        tbl(s, dir, "embeddings")
          .join(q, col("vec_id") === col("doc_id"))
          .groupBy(col("label"))
          .agg(
            count(lit(1)).as("n"),
            // decimal-accumulated mean (order-independent ⇒ oracle-exact),
            // same recipe as the money sums
            R(sum(R(col("quality"), 6).cast(DecimalType(18, 6))).cast("double") /
              count(lit(1)).cast("double"), 6).as("avg_quality"))
          .orderBy("label")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id,
              |    len(string_split_regex(trim(lower(text)), '\\s+')) AS n,
              |    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              |        x -> x IN (${graft.ext.Text.stopwordsEn.map(w => s"'$w'").mkString(",")})))
              |      AS n_stop,
              |    len(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS n_dist
              |  FROM documents),
              |q AS (SELECT doc_id,
              |        (n_stop / n) * 0.4 + (n_dist / n) * 0.3 + least(1.0, n / 100.0) * 0.3
              |          AS quality
              |      FROM t)
              |SELECT label, count(*) AS n,
              |  ${rs(s"CAST(SUM(CAST(${Num.roundSql("quality", 6)} AS DECIMAL(18,6))) AS DOUBLE)" +
                  " / CAST(count(*) AS DOUBLE)", 6)} AS avg_quality
              |FROM embeddings JOIN q ON vec_id = doc_id
              |GROUP BY label ORDER BY label""".stripMargin)),

    // Percentile-based length filter: drop docs outside [p05, p95] of the
    // corpus token-count distribution — the length-outlier curation step.
    // Exact interpolated percentiles (Spark percentile ≡ DuckDB
    // quantile_cont) ride along as a broadcast scalar.
    QueryDef(
      "q69_length_filter",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .select(
            col("doc_id"),
            size(graft.ext.Text.tokensNorm(col("text"))).cast("bigint").as("n_tokens"))
        val p = d.agg(expr("percentile(n_tokens, array(0.05, 0.95))").as("ps"))
        d.crossJoin(p)
          .select(
            col("doc_id"), col("n_tokens"),
            (col("n_tokens") >= col("ps").getItem(0) &&
              col("n_tokens") <= col("ps").getItem(1)).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |p AS (SELECT quantile_cont(n_tokens, 0.05) AS p05,
             |             quantile_cont(n_tokens, 0.95) AS p95 FROM d)
             |SELECT doc_id, n_tokens, n_tokens >= p05 AND n_tokens <= p95 AS keep
             |FROM d CROSS JOIN p ORDER BY doc_id""".stripMargin)),

    // Near-dup pairs → dedup GROUPS: connected components (iterative
    // min-label propagation) over the exact-Jaccard pair relation, so a
    // duplicate CHAIN (a~b~c without a~c) still collapses to one keeper.
    // Pair generation runs behind the maxDf hot-shingle guard (≥ any
    // fixture df → identical output, O(maxDf²)-bounded plan; see q36).
    // The oracle computes the same components via a recursive CTE.
    QueryDef(
      "q70_dedup_clusters",
      (s, dir) =>
        graft.ext.Dedup
          .connectedComponents(
            graft.ext.Dedup.ngramJaccardPairs(
              tbl(s, dir, "documents"), "doc_id", "text", 3, 0.5, maxDf = graft.ext.Dedup.BatteryMaxDf))
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $shingleCte,
              |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS n_inter
              |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              |  GROUP BY 1, 2),
              |p AS (SELECT a_id, b_id FROM inter
              |      JOIN sizes sa ON sa.doc_id = a_id
              |      JOIN sizes sb ON sb.doc_id = b_id
              |      WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
              |e AS (SELECT a_id AS src, b_id AS dst FROM p
              |      UNION SELECT b_id, a_id FROM p),
              |r AS (SELECT src AS node, dst AS reach FROM e
              |      UNION
              |      SELECT r.node, e.dst AS reach FROM r JOIN e ON r.reach = e.src)
              |SELECT node AS doc_id, least(node, min(reach)) AS cluster_id
              |FROM r GROUP BY node ORDER BY doc_id""".stripMargin)),

    // Schema-on-read JSON parsing (JsonToStructs, the typed twin of q30's
    // path-expression extraction): declared struct schema, typed field
    // access, re-aggregated.
    QueryDef(
      "q71_from_json",
      (s, dir) =>
        tbl(s, dir, "events")
          .select(
            col("event_type"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
              .getField("k").as("k"))
          .groupBy(col("event_type"))
          .agg(count(col("k")).as("n_k"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
             |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
             |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Array-function battery over the token arrays: slice, sort+distinct,
    // membership, filtered-distinct cardinality — all higher-order /
    // array built-ins, rendered to strings for engine-neutral compare.
    QueryDef(
      "q72_array_ops",
      (s, dir) =>
        tbl(s, dir, "documents")
          .withColumn("__t", graft.ext.Text.tokensNorm(col("text")))
          .select(
            col("doc_id"),
            array_join(slice(col("__t"), 1, 5), ",").as("first5"),
            array_join(slice(array_sort(array_distinct(col("__t"))), 1, 3), ",").as("abc3"),
            array_contains(col("__t"), "the").as("has_the"),
            size(array_distinct(filter(col("__t"),
              t => t.isin(graft.ext.Text.stopwordsEn.map(_.asInstanceOf[Any]): _*))))
              .cast("bigint").as("n_stop_kinds"))
          .orderBy("doc_id"),
      Some(s"""WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
              |           FROM documents)
              |SELECT doc_id,
              |  array_to_string(ws[1:5], ',') AS first5,
              |  array_to_string((list_sort(list_distinct(ws)))[1:3], ',') AS abc3,
              |  list_contains(ws, 'the') AS has_the,
              |  CAST(len(list_distinct(list_filter(ws,
              |    x -> x IN (${graft.ext.Text.stopwordsEn.map(w => s"'$w'").mkString(",")}))))
              |    AS BIGINT) AS n_stop_kinds
              |FROM w ORDER BY doc_id""".stripMargin)),

    // Date-function battery: trunc-to-month, day arithmetic, last_day,
    // calendar extracts. Day-of-week normalized to Sunday=0 on both sides
    // (Spark dayofweek is Sunday=1, DuckDB's is Sunday=0).
    QueryDef(
      "q73_date_funcs",
      (s, dir) => {
        val d = to_date(col("o_orderdate"))
        tbl(s, dir, "orders")
          .select(
            col("o_orderkey"),
            date_format(d, "yyyy-MM-dd").as("order_day"),
            date_format(date_trunc("month", d), "yyyy-MM-dd").as("month_start"),
            date_format(date_add(d, 30), "yyyy-MM-dd").as("due_30d"),
            date_format(last_day(d), "yyyy-MM-dd").as("month_end"),
            year(d).cast("bigint").as("yr"),
            month(d).cast("bigint").as("mo"),
            (dayofweek(d) - 1).cast("bigint").as("dow_sun0"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_day,
             |  strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d')
             |    AS month_start,
             |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_30d,
             |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
             |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
             |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mo,
             |  CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow_sun0
             |FROM orders ORDER BY o_orderkey""".stripMargin)))
}

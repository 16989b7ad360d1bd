package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.Text
import graft.ops.Num
import QueryDef.{registerViews, tbl}

/** Round-5 batch 2: blocklist scrubbing (the C4 bad-word stage), vocabulary
  * coverage (the tokenizer-design aggregate), LATERAL and WITH RECURSIVE
  * SQL surfaces (one SQL text valid verbatim in Spark AND DuckDB), and the
  * regr_* linear-regression aggregate battery. All hash-oracled.
  */
object Extended6 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  import TextQueries.wsSql

  /** C4-style blocklist (Raffel et al. 2020 §2.2 filter the "bad words"
    * list; here three fixture-vocabulary stand-ins).
    */
  private val blocklist = Seq("slow", "big", "the")
  private def inList(words: Seq[String]) =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  /** Correlated-aggregate LATERAL subquery — ONE text, valid verbatim in
    * Spark (decorrelated to a left outer aggregate join by Catalyst) and
    * DuckDB. count over an empty group is 0, max is NULL, in both.
    */
  private val sqlLateral =
    """SELECT p.p_partkey, p.p_name, t.n_li, t.max_price
      |FROM part p, LATERAL (
      |  SELECT count(*) AS n_li, max(l_extendedprice) AS max_price
      |  FROM lineitem WHERE l_partkey = p.p_partkey) t
      |WHERE p.p_partkey <= 25
      |ORDER BY p.p_partkey""".stripMargin

  /** Recursive-CTE ancestor walk over the implicit binary hierarchy
    * parent(k) = floor(k/2) — ONE text, valid verbatim in Spark 4
    * (UnionLoopExec) and DuckDB. UNION ALL recursion on an acyclic
    * relation, exact integer arithmetic throughout; depth_to_root and the
    * ancestor-key checksum pin every step of every walk.
    */
  private val sqlRecursive =
    """WITH RECURSIVE h(node, anc, depth) AS (
      |  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey <= 200
      |  UNION ALL
      |  SELECT node, CAST(floor(anc / 2.0) AS BIGINT), depth + 1
      |  FROM h WHERE anc > 1
      |)
      |SELECT node, max(depth) AS depth_to_root,
      |  CAST(sum(anc) AS BIGINT) AS anc_keysum
      |FROM h GROUP BY node ORDER BY node""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // Blocklist scrub — filter AND transformation in one pass: per-doc
    // hit count, the distinct offending terms, the text REBUILT with
    // blocklist tokens removed, and the keep decision. Pure higher-order
    // array ops over one scan: no shuffle, no join — at 100 TB the cost
    // is the scan. (Real pipelines swap in the published bad-word list;
    // the operator is list-size-independent: isin compiles to a hash-set
    // probe per token.)
    QueryDef(
      "q119_blocklist_scrub",
      (s, dir) => {
        val bl = blocklist.map(x => x: Any)
        val d = tbl(s, dir, "documents")
          .withColumn("__t", Text.tokensNorm(col("text")))
        val hits = filter(col("__t"), t => t.isin(bl: _*))
        val kept = filter(col("__t"), t => !t.isin(bl: _*))
        d.select(
          col("doc_id"),
          size(hits).cast("bigint").as("n_hits"),
          concat_ws(",", array_sort(array_distinct(hits))).as("hit_terms"),
          concat_ws(" ", kept).as("scrubbed"),
          (size(hits) === 0).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents)
              |SELECT doc_id,
              |  CAST(len(list_filter(ws, x -> x IN ${inList(blocklist)})) AS BIGINT) AS n_hits,
              |  coalesce(list_aggregate(list_sort(list_distinct(
              |    list_filter(ws, x -> x IN ${inList(blocklist)}))), 'string_agg', ','), '') AS hit_terms,
              |  coalesce(list_aggregate(
              |    list_filter(ws, x -> x NOT IN ${inList(blocklist)}), 'string_agg', ' '), '') AS scrubbed,
              |  len(list_filter(ws, x -> x IN ${inList(blocklist)})) = 0 AS keep
              |FROM w ORDER BY doc_id""".stripMargin)),

    // Vocabulary coverage curve: corpus token frequencies ranked, with
    // the cumulative share of all token OCCURRENCES covered by the top-r
    // types — the aggregate a tokenizer/vocab designer reads to size the
    // vocabulary (how many types cover 90%?). Exact integers until one
    // final division; the in_vocab90 flag is pure integer arithmetic
    // ((cum−cnt)·10 < total·9), so no float threshold crosses the hash.
    // The global window runs over VOCABULARY-cardinality rows (types, not
    // tokens) — at 100 TB the heavy part is the upstream hash agg; the
    // ranked curve is tiny.
    QueryDef(
      "q120_vocab_coverage",
      (s, dir) => {
        val freq = tbl(s, dir, "documents")
          .select(explode(Text.tokensNorm(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy(col("cnt").desc, col("tok").asc)
        val cum = sum(col("cnt"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        val total = sum(col("cnt")).over()
        freq
          .select(
            row_number().over(w).cast("bigint").as("rank"),
            col("tok"), col("cnt"), cum.as("cum"), total.as("total"))
          .filter(col("rank") <= 30)
          .select(
            col("rank"), col("tok"), col("cnt"), col("cum"),
            R(col("cum").cast("double") / col("total").cast("double"), 6).as("cov_r"),
            ((col("cum") - col("cnt")) * 10 < col("total") * 9).as("in_vocab90"))
          .orderBy("rank")
      },
      Some(s"""WITH f AS (
              |  SELECT tok, count(*) AS cnt
              |  FROM (SELECT unnest($wsSql) AS tok FROM documents)
              |  GROUP BY tok),
              |r AS (
              |  SELECT tok, cnt,
              |    row_number() OVER (ORDER BY cnt DESC, tok) AS rank,
              |    sum(cnt) OVER (ORDER BY cnt DESC, tok
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              |    sum(cnt) OVER () AS total
              |  FROM f)
              |SELECT CAST(rank AS BIGINT) AS rank, tok,
              |  CAST(cnt AS BIGINT) AS cnt, CAST(cum AS BIGINT) AS cum,
              |  ${rs("CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)", 6)} AS cov_r,
              |  (cum - cnt) * 10 < total * 9 AS in_vocab90
              |FROM r WHERE rank <= 30 ORDER BY rank""".stripMargin)),

    // LATERAL correlated subquery — the SQL-surface form of "for each
    // outer row, run this parameterized subquery". Catalyst decorrelates
    // it to a plain left outer aggregate join (no per-row re-execution),
    // which is exactly why it survives scale; the same text runs
    // verbatim in DuckDB.
    QueryDef(
      "q121_lateral_topk",
      (s, dir) => {
        registerViews(s, dir, Seq("part", "lineitem"))
        s.sql(sqlLateral)
      },
      Some(sqlLateral)),

    // WITH RECURSIVE (Spark 4's UnionLoopExec) — iterative reachability
    // as ONE declarative query: ancestor walks over parent(k)=⌊k/2⌋,
    // aggregated to depth + ancestor checksum per node. The batch twin
    // of the iterative min-label propagation in Dedup.connectedComponents
    // — same fixed-point idea, engine-managed loop.
    QueryDef(
      "q122_recursive_walk",
      (s, dir) => {
        registerViews(s, dir, Seq("customer"))
        s.sql(sqlRecursive)
      },
      Some(sqlRecursive)),

    // Linear-regression aggregate battery (regr_slope/intercept/r2/
    // avgx/avgy/count): price-versus-quantity fit per return flag — the
    // one-pass sufficient-statistics form (moments, not row iteration),
    // identical closed-form definitions in both engines, rounded like
    // q83's corr battery.
    QueryDef(
      "q124_regr_battery",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            regr_count(col("l_extendedprice"), col("l_quantity")).as("n_pairs"),
            R(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope_r"),
            R(regr_intercept(col("l_extendedprice"), col("l_quantity")), 6).as("icept_r"),
            R(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2_r"),
            R(regr_avgx(col("l_extendedprice"), col("l_quantity")), 6).as("avgx_r"),
            R(regr_avgy(col("l_extendedprice"), col("l_quantity")), 2).as("avgy_r"))
          .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
              |  ${rs("regr_slope(l_extendedprice, l_quantity)", 6)} AS slope_r,
              |  ${rs("regr_intercept(l_extendedprice, l_quantity)", 6)} AS icept_r,
              |  ${rs("regr_r2(l_extendedprice, l_quantity)", 6)} AS r2_r,
              |  ${rs("regr_avgx(l_extendedprice, l_quantity)", 6)} AS avgx_r,
              |  ${rs("regr_avgy(l_extendedprice, l_quantity)", 2)} AS avgy_r
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Gopher's duplicate-n-gram repetition signal (Rae et al. 2021
    // §A1.1: "fraction of characters in duplicate n-grams"): per doc,
    // the share of bigram characters that belong to bigrams occurring
    // ≥2 times — catches looped/boilerplate text that q61's
    // top-token share misses. Exact integers until ONE division. Scale:
    // one explode + two hash aggs, all keyed by doc_id (map-side
    // combine; no cross-doc term at all).
    QueryDef(
      "q126_dup_ngram_chars",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .withColumn("__ws", Text.tokensNorm(col("text")))
        val n = size(col("__ws"))
        val bigrams = when(n >= 2,
          transform(sequence(lit(1), n - 1),
            i => concat_ws(" ", element_at(col("__ws"), i),
              element_at(col("__ws"), (i + 1).cast("int")))))
          .otherwise(array().cast("array<string>"))
        d.select(col("doc_id"), explode(bigrams).as("bg"))
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("w"))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("w")).as("n_bigrams"),
            count(when(col("w") >= 2, 1)).as("n_dup_types"),
            sum(col("w") * length(col("bg"))).as("__denom"),
            sum(when(col("w") >= 2, col("w") * length(col("bg")))
              .otherwise(lit(0L))).as("__num"))
          .select(
            col("doc_id"), col("n_bigrams"), col("n_dup_types"),
            R(col("__num").cast("double") / col("__denom").cast("double"), 6)
              .as("dup_char_frac"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
              |b AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
              |      FROM w CROSS JOIN range(1, 1000) t(i)
              |      WHERE i <= len(ws) - 1),
              |c AS (SELECT doc_id, bg, count(*) AS w FROM b GROUP BY 1, 2),
              |a AS (SELECT doc_id,
              |        CAST(sum(w) AS BIGINT) AS n_bigrams,
              |        count(CASE WHEN w >= 2 THEN 1 END) AS n_dup_types,
              |        CAST(sum(w * length(bg)) AS BIGINT) AS denom,
              |        CAST(coalesce(sum(CASE WHEN w >= 2 THEN w * length(bg) END), 0)
              |             AS BIGINT) AS num
              |      FROM c GROUP BY 1)
              |SELECT doc_id, n_bigrams, n_dup_types,
              |  ${rs("CAST(num AS DOUBLE) / CAST(denom AS DOUBLE)", 6)} AS dup_char_frac
              |FROM a ORDER BY doc_id""".stripMargin)),

    // Distribution-drift monitor: PSI (population stability index) of
    // each source's doc-length histogram against the src0 baseline —
    // the pipeline-health check run between ingestion batches (PSI >
    // 0.2 = investigate). Laplace-smoothed bin probabilities keep ln
    // finite on empty bins with EXACT rational smoothing; per-bin terms
    // are rounded then DECIMAL-summed (the q117 ln-parity recipe).
    // Scale: one map-only binning pass + aggregates over sources×10
    // bins — the comparison itself is free at any corpus size.
    QueryDef(
      "q127_psi_drift",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .select(col("source"),
            least(floor(size(Text.tokensNorm(col("text"))) / lit(16.0)).cast("int"),
              lit(9)).as("bin"))
        val counts = d.groupBy(col("source"), col("bin")).agg(count(lit(1)).as("cnt"))
        val grid = d.select(col("source")).distinct()
          .crossJoin(s.range(0, 10).select(col("id").cast("int").as("bin")))
        val hist = grid.join(counts, Seq("source", "bin"), "left")
          .select(col("source"), col("bin"),
            coalesce(col("cnt"), lit(0L)).as("cnt"))
        val n = hist.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
        val p = hist.join(n, Seq("source"))
          .select(col("source"), col("bin"), col("n"),
            ((col("cnt").cast("double") + lit(1.0)) /
              (col("n").cast("double") + lit(10.0))).as("p"))
        val base = p.filter(col("source") === "src0")
          .select(col("bin"), col("p").as("p0"))
        p.join(broadcast(base), Seq("bin"))
          .groupBy(col("source"))
          .agg(
            max(col("n")).as("n_docs"),
            sum(Num.roundTo((col("p") - col("p0")) * log(col("p") / col("p0")), 12)
              .cast(DecimalType(24, 12))).cast("double").as("__psi"))
          .select(col("source"), col("n_docs"), R(col("__psi"), 6).as("psi_r"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT source,
              |             least(CAST(floor(len($wsSql) / 16.0) AS INT), 9) AS bin
              |           FROM documents),
              |c AS (SELECT source, bin, count(*) AS cnt FROM d GROUP BY 1, 2),
              |grid AS (SELECT source, CAST(b AS INT) AS bin
              |         FROM (SELECT DISTINCT source FROM documents)
              |         CROSS JOIN range(0, 10) t(b)),
              |h AS (SELECT g.source, g.bin, coalesce(c.cnt, 0) AS cnt
              |      FROM grid g LEFT JOIN c ON c.source = g.source AND c.bin = g.bin),
              |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
              |p AS (SELECT h.source, h.bin, n.n,
              |        (CAST(cnt AS DOUBLE) + 1.0) / (CAST(n.n AS DOUBLE) + 10.0) AS p
              |      FROM h JOIN n USING (source)),
              |b0 AS (SELECT bin, p AS p0 FROM p WHERE source = 'src0'),
              |a AS (SELECT p.source, max(p.n) AS n_docs,
              |        CAST(sum(CAST(${Num.roundSql("(p.p - b0.p0) * ln(p.p / b0.p0)", 12)}
              |                      AS DECIMAL(24,12))) AS DOUBLE) AS psi
              |      FROM p JOIN b0 USING (bin) GROUP BY 1)
              |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
              |  ${rs("psi", 6)} AS psi_r
              |FROM a ORDER BY source""".stripMargin)),

    // Exact-substring benchmark decontamination (the PaLM/GPT-3 recipe:
    // drop training docs CONTAINING a benchmark string verbatim) —
    // complements q62/q103's shingle/fuzzy forms. Probes are the
    // normalized 8-token prefixes of docs 0–4; every doc is checked for
    // verbatim containment. The probe side is tiny by construction →
    // broadcast nested-loop is the RIGHT plan (contains() is not an
    // equi-key); at 100 TB the cost stays one corpus scan × |benchmark|.
    QueryDef(
      "q128_exact_decontam",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .withColumn("__n", Text.normalize(col("text")))
        val probes = d.filter(col("doc_id") < 5)
          .select(col("doc_id").as("probe_id"),
            concat_ws(" ", slice(Text.tokensNorm(col("text")), 1, 8)).as("probe"))
        val hits = d.crossJoin(broadcast(probes))
          .filter(col("__n").contains(col("probe")))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_probes_hit"), min(col("probe_id")).as("first_probe"))
        d.select(col("doc_id"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_probes_hit"), lit(0L)).as("n_probes_hit"),
            col("first_probe"))
          .orderBy("doc_id")
      },
      Some(s"""WITH nd AS (SELECT doc_id,
              |              regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
              |            FROM documents),
              |pr AS (SELECT doc_id AS probe_id,
              |         array_to_string(list_slice($wsSql, 1, 8), ' ') AS probe
              |       FROM documents WHERE doc_id < 5),
              |h AS (SELECT nd.doc_id, count(*) AS n_hit, min(pr.probe_id) AS first_probe
              |      FROM nd JOIN pr ON contains(nd.nt, pr.probe)
              |      GROUP BY nd.doc_id)
              |SELECT nd.doc_id,
              |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_probes_hit,
              |  h.first_probe
              |FROM nd LEFT JOIN h ON h.doc_id = nd.doc_id
              |ORDER BY nd.doc_id""".stripMargin)),

    // Source-balance Gini coefficient over per-source token mass — the
    // corpus-diversity number a data-mixing report leads with (0 =
    // perfectly balanced sources, →1 = one source dominates). Closed
    // form over the ascending-sorted masses: G = (2·Σi·xᵢ − (n+1)·Σxᵢ)
    // / (n·Σxᵢ) — exact integers until ONE division. The rank window
    // runs over SOURCE-cardinality rows (tiny); the heavy part is the
    // per-source token aggregate, which map-side combines.
    QueryDef(
      "q129_source_gini",
      (s, dir) => {
        val per = tbl(s, dir, "documents")
          .select(col("source"),
            size(Text.tokensNorm(col("text"))).cast("bigint").as("nt"))
          .groupBy(col("source")).agg(sum(col("nt")).as("x"))
        val w = Window.orderBy(col("x").asc, col("source").asc)
        per.withColumn("i", row_number().over(w).cast("bigint"))
          .agg(
            count(lit(1)).as("n_sources"),
            sum(col("x")).as("total_tokens"),
            sum(col("i") * col("x")).as("__ix"))
          .select(
            col("n_sources"), col("total_tokens"),
            R((col("__ix") * 2 - (col("n_sources") + 1) * col("total_tokens"))
              .cast("double") /
              (col("n_sources") * col("total_tokens")).cast("double"), 6)
              .as("gini_r"))
      },
      Some(s"""WITH per AS (
              |  SELECT source, CAST(sum(len($wsSql)) AS BIGINT) AS x
              |  FROM documents GROUP BY source),
              |r AS (SELECT source, x,
              |        CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i
              |      FROM per),
              |a AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
              |        CAST(sum(x) AS BIGINT) AS total_tokens,
              |        CAST(sum(i * x) AS BIGINT) AS ix
              |      FROM r)
              |SELECT n_sources, total_tokens,
              |  ${rs("CAST(ix * 2 - (n_sources + 1) * total_tokens AS DOUBLE) / " +
             "CAST(n_sources * total_tokens AS DOUBLE)", 6)} AS gini_r
              |FROM a""".stripMargin)),

    // Dataset card: the one-row corpus datasheet (Gebru et al.,
    // "Datasheets for Datasets") emitted at the end of every curation
    // run — sizes, source/language diversity, token mass, mean length,
    // exact-duplicate rate. ONE scan: the multi-distinct aggregate
    // expands to per-distinct partial aggs (low-cardinality keys →
    // map-side dedup), the md5-fingerprint distinct rides the same
    // Expand. Every ratio is a single IEEE division off exact integers.
    QueryDef(
      "q130_dataset_card",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("source"), col("lang"),
            size(Text.tokensNorm(col("text"))).cast("bigint").as("nt"),
            Text.fingerprintMd5(col("text")).as("fp"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("nt")).as("total_tokens"),
            countDistinct(col("fp")).as("n_unique"))
          .select(
            col("n_docs"), col("n_sources"), col("n_langs"), col("total_tokens"),
            R(col("total_tokens").cast("double") / col("n_docs").cast("double"), 4)
              .as("mean_tokens_r"),
            R((col("n_docs") - col("n_unique")).cast("double") /
              col("n_docs").cast("double"), 6).as("dup_frac_r")),
      Some(s"""WITH d AS (SELECT source, lang,
              |            CAST(len($wsSql) AS BIGINT) AS nt,
              |            md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
              |          FROM documents),
              |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |        CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              |        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
              |        CAST(sum(nt) AS BIGINT) AS total_tokens,
              |        CAST(count(DISTINCT fp) AS BIGINT) AS n_unique
              |      FROM d)
              |SELECT n_docs, n_sources, n_langs, total_tokens,
              |  ${rs("CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)", 4)} AS mean_tokens_r,
              |  ${rs("CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS dup_frac_r
              |FROM a""".stripMargin)))
}

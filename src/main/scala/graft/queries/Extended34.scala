package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.{Similarity, Text}
import graft.ops.Num
import QueryDef.{hash32Sql, tbl}

/** Round-9 seventh batch: retrieval evaluation (recall@k / precision@k /
  * MRR over the embedding index — the acceptance metrics for the q39/q40
  * search family), the log-rank test (the significance test for q189's
  * Kaplan–Meier curves, as Mann–Kendall is to Theil–Sen), and a
  * train/eval split-leakage audit (duplicate fingerprints spanning folds
  * — the quiet eval-inflation bug content-keyed folding prevents).
  */
object Extended34 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  // q189's subject construction constants (48 h observation window)
  private val ObsUs = 48L * 3600000000L
  // χ²(1) 95% critical value, E-notation literal shared by both engines
  private val Chi2Crit = "3.841458820694124E0"

  val all: Seq[QueryDef] = Seq(

    // ----- q238: retrieval metrics (recall@10 / precision@10 / MRR) -----
    // Grade the exact search anchor as a retrieval system: for 20 query
    // vectors, relevant = same-label corpus vectors; recall@10 against
    // the attainable maximum (min(10, class size − 1)), precision@10,
    // and reciprocal rank of the first relevant hit. These are the
    // acceptance metrics the q123 ANN gate needs once "right answer"
    // means labels, not the exact-cosine list itself. Exactness: hits
    // and class sizes are integers; recall/precision/RR are shared
    // double shapes; macros are rounded-term DECIMAL means over the
    // 20-row query relation. Shape: bruteForceTopK streams the corpus
    // once with broadcast queries (its documented contract); label
    // relations are vocabulary-sized broadcasts.
    QueryDef(
      "q238_retrieval_metrics",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val top = Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 10)
        val lab = emb.select(col("vec_id"), col("label"))
        val classN = lab.groupBy(col("label")).agg(count(lit(1)).as("n_class"))
        val t = top
          .join(broadcast(lab.select(col("vec_id").as("qid"), col("label").as("qlabel"))), "qid")
          .join(broadcast(lab.select(col("vec_id").as("cid"), col("label").as("clabel"))), "cid")
        val perQ = t.groupBy(col("qid"), col("qlabel"))
          .agg(sum(when(col("clabel") === col("qlabel"), 1L).otherwise(0L)).as("hits"),
            min(when(col("clabel") === col("qlabel"), col("rn"))).as("first_hit"))
          .join(broadcast(classN.select(col("label").as("qlabel"), col("n_class"))), "qlabel")
        val denom = least(lit(10L), col("n_class") - 1L)
        val rr = coalesce(lit(1.0) / col("first_hit").cast("double"), lit(0.0))
        val dec = DecimalType(24, 10)
        val tot = Window.partitionBy()
        val g = perQ
          .withColumn("recall", col("hits").cast("double") / denom.cast("double"))
          .withColumn("prec", col("hits").cast("double") / lit(10.0))
          .withColumn("rr", rr)
          .withColumn("nq", count(lit(1)).over(tot))
        g.select(col("qid"), col("qlabel"), col("n_class"), col("hits"),
            R(col("recall"), 6).as("recall_r"),
            R(col("prec"), 6).as("precision_r"),
            R(col("rr"), 6).as("rr_r"),
            R(sum(R(col("recall"), 10).cast(dec)).over(tot).cast("double") /
              col("nq").cast("double"), 6).as("macro_recall_r"),
            R(sum(R(col("rr"), 10).cast(dec)).over(tot).cast("double") /
              col("nq").cast("double"), 6).as("macro_mrr_r"))
          .orderBy("qid")
      },
      Some(s"""WITH n AS (SELECT vec_id,
              |        sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS nrm
              |      FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY vec_id),
              |q AS (SELECT e.vec_id qid, e.embedding qe, n.nrm qn, e.label qlabel
              |      FROM embeddings e JOIN n ON n.vec_id = e.vec_id WHERE e.vec_id < 20),
              |c AS (SELECT e.vec_id cid, e.embedding ce, n.nrm cn, e.label clabel
              |      FROM embeddings e JOIN n ON n.vec_id = e.vec_id),
              |cls AS (SELECT label, count(*) AS n_class FROM embeddings GROUP BY 1),
              |d AS (SELECT qid, qlabel, cid, clabel,
              |        sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) / (qn * cn) AS cos
              |      FROM q CROSS JOIN c CROSS JOIN range(1, 65) t(i)
              |      WHERE qid != cid GROUP BY qid, qlabel, cid, clabel, qn, cn),
              |r AS (SELECT qid, qlabel, cid, clabel,
              |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
              |      FROM d),
              |perq AS (
              |  SELECT qid, qlabel,
              |    CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS hits,
              |    min(CASE WHEN clabel = qlabel THEN rn END) AS first_hit
              |  FROM r WHERE rn <= 10 GROUP BY 1, 2),
              |j AS (
              |  SELECT perq.*, cls.n_class,
              |    CAST(hits AS DOUBLE) / CAST(least(10, n_class - 1) AS DOUBLE) AS recall,
              |    CAST(hits AS DOUBLE) / 10.0 AS prec,
              |    COALESCE(1.0 / CAST(first_hit AS DOUBLE), 0.0) AS rr
              |  FROM perq JOIN cls ON cls.label = perq.qlabel),
              |g AS (
              |  SELECT *, CAST(count(*) OVER () AS BIGINT) AS nq,
              |    CAST(sum(CAST(${rs("recall", 10)} AS DECIMAL(24,10))) OVER () AS DOUBLE) AS srec,
              |    CAST(sum(CAST(${rs("rr", 10)} AS DECIMAL(24,10))) OVER () AS DOUBLE) AS srr
              |  FROM j)
              |SELECT qid, qlabel, n_class, hits,
              |  ${rs("recall", 6)} AS recall_r,
              |  ${rs("prec", 6)} AS precision_r,
              |  ${rs("rr", 6)} AS rr_r,
              |  ${rs("srec / CAST(nq AS DOUBLE)", 6)} AS macro_recall_r,
              |  ${rs("srr / CAST(nq AS DOUBLE)", 6)} AS macro_mrr_r
              |FROM g ORDER BY qid""".stripMargin)),

    // ----- q239: log-rank test ------------------------------------------
    // Do the two arms' signup→purchase survival curves differ? The
    // hypergeometric O−E statistic over q189's EXACT subject
    // construction (48 h window, censoring at the corpus edge), arms by
    // user_id % 2: at each event time, e₁ = d·n₁/n and
    // v = d·(n₁/n)(n₂/n)(n−d)/(n−1); χ² = (Σ(d₁−e₁))²/Σv. The KM curve
    // (q189) describes; this tests — the same estimator/test pairing as
    // q232/q217. Exactness: every death/risk count is an integer from
    // windowed cumulative sums; the float terms accumulate as
    // ROUNDED-term DECIMALs over the duration-bounded relation; χ² is
    // one shared closed form. Shape: user-sized aggs, one broadcast
    // corpus-end scalar, windows over ≤ (distinct durations) rows.
    QueryDef(
      "q239_logrank",
      (s, dir) => {
        val e = tbl(s, dir, "events")
        val su = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("smin"))
        val pu = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_uid"), unix_micros(col("ts")).as("pt"))
        val mx = e.agg(max(unix_micros(col("ts"))).as("mt"))
        val firstP = su.join(pu,
            col("p_uid") === col("user_id") && col("pt") >= col("smin"), "left")
          .groupBy(col("user_id"), col("smin"))
          .agg(min(col("pt")).as("pmin"))
        val subj = firstP.crossJoin(broadcast(mx))
          .withColumn("arm", pmod(col("user_id"), lit(2)))
          .withColumn("oe", least(col("smin") + ObsUs, col("mt")))
          .withColumn("ev",
            (col("pmin").isNotNull && col("pmin") < col("oe")).cast("int"))
          .withColumn("dur",
            when(col("ev") === 1, (col("pmin") - col("smin")) / 3600000000L)
              .otherwise((col("oe") - col("smin")) / 3600000000L)
              .cast("long"))
        val km = subj.groupBy(col("dur"))
          .agg(sum(when(col("arm") === 1, col("ev")).otherwise(0)).as("d1"),
            sum(when(col("arm") === 1, lit(1) - col("ev")).otherwise(0)).as("c1"),
            sum(when(col("arm") === 0, col("ev")).otherwise(0)).as("d0"),
            sum(when(col("arm") === 0, lit(1) - col("ev")).otherwise(0)).as("c0"))
        val tot = Window.orderBy(col("dur"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val prior = Window.orderBy(col("dur"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val g = km
          .withColumn("n1", sum(col("d1") + col("c1")).over(tot) -
            coalesce(sum(col("d1") + col("c1")).over(prior), lit(0L)))
          .withColumn("n0", sum(col("d0") + col("c0")).over(tot) -
            coalesce(sum(col("d0") + col("c0")).over(prior), lit(0L)))
        val d = col("d1") + col("d0")
        val n = col("n1") + col("n0")
        val dd = (c: Column) => c.cast("double")
        val e1 = dd(d) * dd(col("n1")) / dd(n)
        val v = dd(d) * (dd(col("n1")) / dd(n)) * (dd(col("n0")) / dd(n)) *
          (dd(n) - dd(d)) / (dd(n) - 1.0)
        val dec = DecimalType(24, 10)
        val terms = g.select(
          when(d > 0, R(dd(col("d1")) - e1, 10)).otherwise(lit(0.0))
            .cast(dec).as("oe_t"),
          when(d > 0 && n > 1, R(v, 10)).otherwise(lit(0.0)).cast(dec).as("v_t"),
          col("d1"), col("d0"), col("c1"), col("c0"))
        val a = terms.agg(
          sum(col("d1") + col("c1")).as("n_subj_1"),
          sum(col("d0") + col("c0")).as("n_subj_0"),
          sum(col("d1")).as("events_1"),
          sum(col("d0")).as("events_0"),
          sum(col("oe_t")).cast("double").as("oe"),
          sum(col("v_t")).cast("double").as("vv"))
        val chi2 = col("oe") * col("oe") / col("vv")
        a.select(col("n_subj_1"), col("n_subj_0"), col("events_1"), col("events_0"),
          R(col("oe"), 6).as("oe_sum_r"),
          R(col("vv"), 6).as("var_sum_r"),
          R(chi2, 6).as("chi2_r"),
          (chi2 > expr(Chi2Crit)).as("reject_05"))
      },
      Some(s"""WITH su AS (
              |  SELECT user_id, min(epoch_us(ts)) AS smin FROM events
              |  WHERE event_type = 'signup' GROUP BY 1),
              |pu AS (
              |  SELECT user_id, epoch_us(ts) AS pt FROM events
              |  WHERE event_type = 'purchase'),
              |mx AS (SELECT max(epoch_us(ts)) AS mt FROM events),
              |fp AS (
              |  SELECT su.user_id, su.smin, min(pu.pt) AS pmin
              |  FROM su LEFT JOIN pu
              |    ON pu.user_id = su.user_id AND pu.pt >= su.smin
              |  GROUP BY 1, 2),
              |subj AS (
              |  SELECT fp.*, fp.user_id % 2 AS arm,
              |    least(smin + $ObsUs, mt) AS oe,
              |    CASE WHEN pmin IS NOT NULL AND pmin < least(smin + $ObsUs, mt)
              |      THEN 1 ELSE 0 END AS ev
              |  FROM fp CROSS JOIN mx),
              |subj2 AS (
              |  SELECT *, CASE WHEN ev = 1 THEN (pmin - smin) // 3600000000
              |    ELSE (oe - smin) // 3600000000 END AS dur
              |  FROM subj),
              |km AS (
              |  SELECT dur,
              |    CAST(sum(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
              |    CAST(sum(CASE WHEN arm = 1 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c1,
              |    CAST(sum(CASE WHEN arm = 0 THEN ev ELSE 0 END) AS BIGINT) AS d0,
              |    CAST(sum(CASE WHEN arm = 0 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c0
              |  FROM subj2 GROUP BY 1),
              |g AS (
              |  SELECT *,
              |    CAST(sum(d1 + c1) OVER () AS BIGINT)
              |      - CAST(coalesce(sum(d1 + c1) OVER (ORDER BY dur
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1,
              |    CAST(sum(d0 + c0) OVER () AS BIGINT)
              |      - CAST(coalesce(sum(d0 + c0) OVER (ORDER BY dur
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n0
              |  FROM km),
              |terms AS (
              |  SELECT d1, d0, c1, c0,
              |    CASE WHEN d1 + d0 > 0 THEN CAST(${rs("CAST(d1 AS DOUBLE) - CAST(d1 + d0 AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE)", 10)} AS DECIMAL(24,10)) ELSE CAST(0 AS DECIMAL(24,10)) END AS oe_t,
              |    CASE WHEN d1 + d0 > 0 AND n1 + n0 > 1 THEN CAST(${rs("CAST(d1 + d0 AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE)) * (CAST(n0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE)) * (CAST(n1 + n0 AS DOUBLE) - CAST(d1 + d0 AS DOUBLE)) / (CAST(n1 + n0 AS DOUBLE) - 1.0)", 10)} AS DECIMAL(24,10)) ELSE CAST(0 AS DECIMAL(24,10)) END AS v_t
              |  FROM g),
              |a AS (
              |  SELECT CAST(sum(d1 + c1) AS BIGINT) AS n_subj_1,
              |    CAST(sum(d0 + c0) AS BIGINT) AS n_subj_0,
              |    CAST(sum(d1) AS BIGINT) AS events_1,
              |    CAST(sum(d0) AS BIGINT) AS events_0,
              |    CAST(sum(oe_t) AS DOUBLE) AS oe,
              |    CAST(sum(v_t) AS DOUBLE) AS vv
              |  FROM terms)
              |SELECT n_subj_1, n_subj_0, events_1, events_0,
              |  ${rs("oe", 6)} AS oe_sum_r,
              |  ${rs("vv", 6)} AS var_sum_r,
              |  ${rs("oe * oe / vv", 6)} AS chi2_r,
              |  (oe * oe / vv > $Chi2Crit) AS reject_05
              |FROM a""".stripMargin)),

    // ----- q240: split-leakage audit ------------------------------------
    // Two 5-fold assignments of the document corpus — by_id
    // (doc_id % 5, the naive choice) and by_content (hash of a content
    // key, so related documents land in ONE fold by construction) —
    // audited for (a) content-key groups spanning folds (the
    // eval-inflation leak) and (b) per-fold language-mix skew vs the
    // corpus mix. The content key is the md5 of the first five
    // normalized tokens: the TEMPLATE key — shared-boilerplate
    // near-duplicates are the realistic leak (exact-dup fingerprints
    // only exist at sf0.1, which would leave this audit vacuously green
    // at the driver's gate scale — the q149 lesson); prefix-keyed
    // groups leak under by_id at EVERY fixture SF (16/20/193 groups).
    // Exactness: counts are integers; shares and deviations are shared
    // double shapes over the bounded (strategy × fold × lang) relation.
    // Shape: one doc-sized pass computes keys + both folds; a key-group
    // agg finds leaks; everything after is bounded-relation windows.
    QueryDef(
      "q240_split_leakage",
      (s, dir) => {
        val toks = split(lower(trim(col("text"))), "\\s+")
        val docs = tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            md5(concat_ws(" ", slice(toks, 1, 5))).as("fp"))
          .withColumn("f_id", pmod(col("doc_id"), lit(5)).cast("long"))
          .withColumn("f_fp", pmod(Text.tokenHash32(col("fp")), lit(5)).cast("long"))
        val strat = docs.select(col("lang"), col("fp"),
          explode(array(
            struct(lit("by_id").as("strategy"), col("f_id").as("fold")),
            struct(lit("by_content").as("strategy"), col("f_fp").as("fold")))).as("e"))
          .select(col("e.strategy").as("strategy"), col("e.fold").as("fold"),
            col("lang"), col("fp"))
        val leaks = strat.groupBy(col("strategy"), col("fp"))
          .agg(countDistinct(col("fold")).as("nf"), count(lit(1)).as("nd"))
          .groupBy(col("strategy"))
          .agg(sum(when(col("nf") > 1 && col("nd") > 1, 1L).otherwise(0L))
            .as("leaky_groups"))
        val cells = strat.groupBy(col("strategy"), col("fold"), col("lang"))
          .agg(count(lit(1)).as("c"))
        val byStrat = Window.partitionBy(col("strategy"))
        val byFold = Window.partitionBy(col("strategy"), col("fold"))
        val byLang = Window.partitionBy(col("strategy"), col("lang"))
        val g = cells
          .withColumn("n_fold", sum(col("c")).over(byFold))
          .withColumn("n_lang", sum(col("c")).over(byLang))
          .withColumn("n_all", sum(col("c")).over(byStrat))
          .withColumn("dev",
            abs(col("c").cast("double") / col("n_fold").cast("double") -
              col("n_lang").cast("double") / col("n_all").cast("double")))
        g.groupBy(col("strategy"), col("fold"))
          .agg(max(col("n_fold")).as("n_docs"),
            R(max(col("dev")), 6).as("max_lang_dev_r"))
          .join(broadcast(leaks), "strategy")
          .select(col("strategy"), col("fold"), col("n_docs"),
            col("max_lang_dev_r"), col("leaky_groups"))
          .orderBy("strategy", "fold")
      },
      Some(s"""WITH t0 AS (
              |  SELECT doc_id, lang,
              |    string_split_regex(trim(lower(text)), '\\s+') AS ws
              |  FROM documents),
              |docs AS (
              |  SELECT doc_id, lang,
              |    md5(array_to_string(ws[1:5], ' ')) AS fp
              |  FROM t0),
              |keyed AS (
              |  SELECT doc_id, lang, fp, doc_id % 5 AS f_id,
              |    ${hash32Sql("fp")} % 5 AS f_fp
              |  FROM docs),
              |strat AS (
              |  SELECT 'by_id' AS strategy, f_id AS fold, lang, fp FROM keyed
              |  UNION ALL
              |  SELECT 'by_content' AS strategy, f_fp AS fold, lang, fp FROM keyed),
              |leaks AS (
              |  SELECT strategy,
              |    CAST(sum(CASE WHEN nf > 1 AND nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS leaky_groups
              |  FROM (SELECT strategy, fp, count(DISTINCT fold) AS nf, count(*) AS nd
              |        FROM strat GROUP BY 1, 2)
              |  GROUP BY 1),
              |cells AS (
              |  SELECT strategy, fold, lang, count(*) AS c FROM strat GROUP BY 1, 2, 3),
              |g AS (
              |  SELECT *,
              |    CAST(sum(c) OVER (PARTITION BY strategy, fold) AS BIGINT) AS n_fold,
              |    CAST(sum(c) OVER (PARTITION BY strategy, lang) AS BIGINT) AS n_lang,
              |    CAST(sum(c) OVER (PARTITION BY strategy) AS BIGINT) AS n_all
              |  FROM cells),
              |dev AS (
              |  SELECT *, abs(CAST(c AS DOUBLE) / CAST(n_fold AS DOUBLE)
              |    - CAST(n_lang AS DOUBLE) / CAST(n_all AS DOUBLE)) AS dv
              |  FROM g),
              |agg AS (
              |  SELECT strategy, fold, max(n_fold) AS n_docs,
              |    ${rs("max(dv)", 6)} AS max_lang_dev_r
              |  FROM dev GROUP BY 1, 2)
              |SELECT agg.strategy, fold, n_docs, max_lang_dev_r, leaky_groups
              |FROM agg JOIN leaks ON leaks.strategy = agg.strategy
              |ORDER BY agg.strategy, fold""".stripMargin))
  )
}

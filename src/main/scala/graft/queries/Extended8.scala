package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.Text
import graft.ops.Num
import QueryDef.{hash32Sql, tbl}

/** Round-5 batch: entity-resolution & statistics operators a curation
  * pipeline needs beyond dedup — native Jaro-Winkler verify (q135),
  * bigram-LM scoring (q136), robust MAD outliers (q137), chi-squared
  * independence (q138), winsorization (q139), sorted-neighborhood
  * blocking (q140), DSIR-style importance weights (q141), top-p nucleus
  * corpus selection (q142), and duplicate-count inverse weighting (q143).
  * All hash-oracled; every float crossing the hash is a single IEEE op on
  * identical inputs or a rounded-term DECIMAL sum (the q117 recipe).
  */
object Extended8 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  import TextQueries.wsSql

  val all: Seq[QueryDef] = Seq(

    // Entity-resolution VERIFY step on a native codegen expression:
    // Jaro-Winkler similarity (graft.functions.JaroWinkler — interpreted
    // + doGenCode paths share one static kernel) scoring two deterministic
    // corruption families (vowel deletion, adjacent transposition) against
    // the canonical nation names. The dim side broadcasts; at 100 TB the
    // left side is the blocked-candidate stream (q140 produces it) and
    // this filter runs map-side inside one codegen stage. Oracled against
    // DuckDB's jaro_winkler_similarity on every pair — the threshold
    // compares ROUNDED scores so both engines gate on the same 4-decimal
    // grid point.
    QueryDef(
      "q135_jaro_winkler",
      (s, dir) => {
        graft.functions.StringExpressions.register(s)
        val nat = tbl(s, dir, "nation")
          .select(col("n_nationkey"), lower(col("n_name")).as("nm"))
        val canon = tbl(s, dir, "nation").select(lower(col("n_name")).as("cname"))
        val v1 = nat.select(
          col("n_nationkey"), lit("novowel").as("kind"),
          regexp_replace(col("nm"), "[aeiou]", "").as("variant"))
        val v2 = nat.select(
          col("n_nationkey"), lit("swap").as("kind"),
          concat(substring(col("nm"), 2, 1), substring(col("nm"), 1, 1),
            col("nm").substr(lit(3), length(col("nm")))).as("variant"))
        v1.unionAll(v2)
          .crossJoin(broadcast(canon))
          .withColumn("jw_r",
            R(graft.functions.StringExpressions.jaroWinkler(col("variant"), col("cname")), 4))
          .filter(col("jw_r") >= 0.82)
          .select(col("n_nationkey"), col("kind"), col("variant"), col("cname"), col("jw_r"))
          .orderBy("n_nationkey", "kind", "cname")
      },
      Some(s"""WITH nat AS (SELECT n_nationkey, lower(n_name) AS nm FROM nation),
              |c AS (SELECT lower(n_name) AS cname FROM nation),
              |v AS (
              |  SELECT n_nationkey, 'novowel' AS kind,
              |         regexp_replace(nm, '[aeiou]', '', 'g') AS variant FROM nat
              |  UNION ALL
              |  SELECT n_nationkey, 'swap',
              |         substr(nm, 2, 1) || substr(nm, 1, 1) || substr(nm, 3) FROM nat),
              |j AS (SELECT n_nationkey, kind, variant, cname,
              |        ${rs("jaro_winkler_similarity(variant, cname)", 4)} AS jw_r
              |      FROM v CROSS JOIN c)
              |SELECT n_nationkey, kind, variant, cname, jw_r FROM j
              |WHERE jw_r >= 0.82 ORDER BY n_nationkey, kind, cname""".stripMargin)),

    // Bigram language-model scoring (add-one smoothed): per-doc mean
    // negative log2-likelihood under the corpus's own bigram counts — the
    // classic perplexity-style quality filter (CCNet uses a 5-gram LM;
    // the plumbing is identical). Docs with fewer than two tokens have no
    // bigrams and drop (documented contract). Per-doc sums are
    // rounded-term DECIMAL (exact in any order), so the hash survives
    // cross-engine summation order. SCALE SHAPE: bigrams come straight
    // off the token ARRAY (an in-row transform — the old per-doc
    // lag window put whole documents into single sort groups, and
    // `count(*) OVER (PARTITION BY p[, t])` put every occurrence of a
    // head token through one task: the head of a zipf vocabulary is
    // data-sized); the n-gram counts are now map-side-combinable hash
    // rollups (vocabulary-saturating) joined back.
    QueryDef(
      "q136_bigram_lm",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .select(col("doc_id"),
            filter(Text.tokensNorm(col("text")), t => t =!= "").as("ts"))
        val big = docs
          .select(col("doc_id"), explode(expr(
            "transform(slice(ts, 2, greatest(size(ts) - 1, 0)), " +
              "(x, i) -> struct(ts[i] AS p, x AS t))")).as("bg"))
          .select(col("doc_id"), col("bg.p").as("p"), col("bg.t").as("t"))
        val vocab = docs.select(explode(col("ts")).as("t"))
          .agg(countDistinct(col("t")).as("v"))
        val cb = big.groupBy(col("p"), col("t")).agg(count(lit(1)).as("cb"))
        val cp = big.groupBy(col("p")).agg(count(lit(1)).as("cp"))
        val withC = big.join(cb, Seq("p", "t")).join(cp, Seq("p"))
        val nll = (log((col("cb").cast("double") + 1.0) /
          (col("cp").cast("double") + col("v").cast("double"))) / log(lit(2.0))) * lit(-1.0)
        withC.crossJoin(broadcast(vocab))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_bigrams"),
            sum(R(nll, 12).cast(DecimalType(24, 12))).cast("double").as("__s"))
          .select(
            col("doc_id"), col("n_bigrams"),
            R(col("__s") / col("n_bigrams").cast("double"), 4).as("mean_nll"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
              |tok AS (SELECT doc_id, i - 1 AS pos, ws[i] AS t
              |        FROM w CROSS JOIN range(1, 1000) r(i)
              |        WHERE i <= len(ws) AND ws[i] <> ''),
              |big AS (SELECT doc_id, t,
              |          lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS p
              |        FROM tok QUALIFY p IS NOT NULL),
              |voc AS (SELECT count(DISTINCT t) AS v FROM tok),
              |wc AS (SELECT doc_id, t, p,
              |         count(*) OVER (PARTITION BY p, t) AS cb,
              |         count(*) OVER (PARTITION BY p) AS cp
              |       FROM big),
              |j AS (SELECT doc_id,
              |        (ln((CAST(cb AS DOUBLE) + 1.0) /
              |            (CAST(cp AS DOUBLE) + CAST(v AS DOUBLE))) / ln(2.0)) * -1.0 AS nll
              |      FROM wc CROSS JOIN voc),
              |a AS (SELECT doc_id, count(*) AS n_bigrams,
              |        CAST(sum(CAST(${rs("nll", 12)} AS DECIMAL(24,12))) AS DOUBLE) AS s
              |      FROM j GROUP BY 1)
              |SELECT doc_id, n_bigrams,
              |  ${rs("s / CAST(n_bigrams AS DOUBLE)", 4)} AS mean_nll
              |FROM a ORDER BY doc_id""".stripMargin)),

    // Robust outlier detection: per-group median + MAD (median absolute
    // deviation), outlier = |x - med| > 3·1.4826·MAD — the
    // scale-equivariant alternative to z-scores that survives the heavy
    // tails real metrics have. Two exact-percentile aggregations over the
    // same grouping key; the per-group stats tables broadcast back. The
    // threshold compare runs on doubles both engines derive through the
    // identical op sequence, so the boundary is bit-stable.
    QueryDef(
      "q137_mad_outliers",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("x"))
        // r17: both medians via Quantiles.exactPercentilesByKey (per-flag
        // coarse cells + in-cell positional pick — bit-identical to the
        // grouped percentile aggregate, PercentileParitySpec) instead of
        // TWO exact-percentile buffers whose per-partition value maps are
        // data-sized state (guide §5); the 3-row med/mad relations join
        // back as broadcast local relations
        val med = graft.ops.Quantiles.exactPercentilesByKey(
          li, Seq("flag"), col("x"), Seq(0.5), Seq("med"))
        // Ckpt (r16): dev feeds the MAD percentile AND the final rollup —
        // the lineitem scan + median join otherwise ran twice
        val dev = graft.ops.Ckpt(li.join(broadcast(med), "flag")
          .withColumn("dev", abs(col("x") - col("med"))))
        val mad = graft.ops.Quantiles.exactPercentilesByKey(
          dev, Seq("flag"), col("dev"), Seq(0.5), Seq("mad"))
        dev.join(broadcast(mad), "flag")
          .groupBy("flag")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("dev") > lit(3.0) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
              .as("n_out"),
            R(min(col("med")), 2).as("med_r"),
            R(min(col("mad")), 2).as("mad_r"))
          .orderBy("flag")
      },
      Some(s"""WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS x FROM lineitem),
              |med AS (SELECT flag, quantile_cont(x, 0.5) AS med FROM li GROUP BY 1),
              |dev AS (SELECT li.flag, x, med, abs(x - med) AS dev
              |        FROM li JOIN med USING (flag)),
              |mad AS (SELECT flag, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY 1)
              |SELECT dev.flag, count(*) AS n,
              |  CAST(sum(CASE WHEN dev > 3.0 * 1.4826 * mad THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_out,
              |  ${rs("min(med)", 2)} AS med_r,
              |  ${rs("min(mad)", 2)} AS mad_r
              |FROM dev JOIN mad USING (flag)
              |GROUP BY dev.flag ORDER BY flag""".stripMargin)),

    // Chi-squared test of independence: event_type × 6-hour time-of-day
    // bucket over events. Observed/expected counts are exact integers ×
    // one double division each; the statistic is a rounded-term DECIMAL
    // sum over the ~20 contingency cells. Contingency tables at 100 TB
    // are one hash aggregation + a broadcast of the marginals — nothing
    // here grows with data size except the first groupBy.
    QueryDef(
      "q138_chi2_test",
      (s, dir) => {
        val ev = tbl(s, dir, "events")
          .select(col("event_type").as("et"),
            floor(hour(col("ts")) / lit(6)).cast("int").as("b"))
        val o = ev.groupBy("et", "b").agg(count(lit(1)).as("o"))
        val rt = o.groupBy("et").agg(sum(col("o")).as("rt"))
        val ct = o.groupBy("b").agg(sum(col("o")).as("ctot"))
        val n = o.agg(sum(col("o")).as("n"), countDistinct(col("et")).as("r"),
          countDistinct(col("b")).as("c"))
        val e = (col("rt").cast("double") * col("ctot").cast("double")) /
          col("n").cast("double")
        val term = (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
        o.join(broadcast(rt), "et").join(broadcast(ct), "b").crossJoin(broadcast(n))
          .agg(
            R(sum(R(term, 10).cast(DecimalType(28, 10))).cast("double"), 6).as("chi2_r"),
            ((max(col("r")) - 1) * (max(col("c")) - 1)).as("dof"),
            max(col("n")).as("n_events"))
      },
      Some(s"""WITH ev AS (SELECT event_type AS et,
              |              CAST(floor(extract(hour FROM ts) / 6) AS INT) AS b
              |            FROM events),
              |o AS (SELECT et, b, count(*) AS o FROM ev GROUP BY 1, 2),
              |rt AS (SELECT et, sum(o) AS rt FROM o GROUP BY 1),
              |ct AS (SELECT b, sum(o) AS ctot FROM o GROUP BY 1),
              |n AS (SELECT CAST(sum(o) AS BIGINT) AS n, count(DISTINCT et) AS r,
              |             count(DISTINCT b) AS c
              |      FROM o),
              |t AS (SELECT
              |        (CAST(o AS DOUBLE) -
              |          (CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)) / CAST(n AS DOUBLE)) *
              |        (CAST(o AS DOUBLE) -
              |          (CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)) / CAST(n AS DOUBLE)) /
              |        ((CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)) / CAST(n AS DOUBLE)) AS term,
              |        r, c, n
              |      FROM o JOIN rt USING (et) JOIN ct USING (b) CROSS JOIN n)
              |SELECT ${rs("CAST(sum(CAST(" + rs("term", 10) + " AS DECIMAL(28,10))) AS DOUBLE)", 6)} AS chi2_r,
              |  (max(r) - 1) * (max(c) - 1) AS dof,
              |  max(n) AS n_events
              |FROM t""".stripMargin)),

    // Winsorization: clamp each group's values to its exact [p05, p95]
    // percentile band, then report the clamped mean — the standard
    // outlier-robust normalization before feature aggregation. One
    // percentile pass (single buffer for both quantiles), broadcast back,
    // map-side clamp; the mean is a rounded-term DECIMAL sum so the
    // 20k-value summation order can't flip the hash.
    QueryDef(
      "q139_winsorize",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("x"))
        val p = li.groupBy("flag")
          .agg(expr("percentile(x, array(0.05, 0.95))").as("ps"))
          .select(col("flag"), col("ps").getItem(0).as("p05"), col("ps").getItem(1).as("p95"))
        li.join(broadcast(p), "flag")
          .withColumn("cx", least(greatest(col("x"), col("p05")), col("p95")))
          .groupBy("flag")
          .agg(
            count(lit(1)).as("n"),
            R(sum(R(col("cx"), 6).cast(DecimalType(28, 6))).cast("double") /
              count(lit(1)).cast("double"), 4).as("mean_wins"),
            R(min(col("p05")), 2).as("p05_r"),
            R(min(col("p95")), 2).as("p95_r"))
          .orderBy("flag")
      },
      Some(s"""WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS x FROM lineitem),
              |p AS (SELECT flag, quantile_cont(x, 0.05) AS p05, quantile_cont(x, 0.95) AS p95
              |      FROM li GROUP BY 1),
              |c AS (SELECT li.flag, least(greatest(x, p05), p95) AS cx, p05, p95
              |      FROM li JOIN p USING (flag))
              |SELECT flag, count(*) AS n,
              |  ${rs("CAST(sum(CAST(" + rs("cx", 6) + " AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS mean_wins,
              |  ${rs("min(p05)", 2)} AS p05_r,
              |  ${rs("min(p95)", 2)} AS p95_r
              |FROM c GROUP BY flag ORDER BY flag""".stripMargin)),

    // Sorted-neighborhood blocking (the OTHER classic dedup candidate
    // generator beside LSH): sort docs by a normalized key inside
    // hash-blocked partitions, pair each row with its next 3 neighbors —
    // candidate count is exactly 3n regardless of skew, no self-join on
    // shingles at all — then verify with levenshtein on a fixed prefix.
    // SCALE SHAPE: a lead() window `PARTITION BY blk` funnels every doc
    // sharing a HOT 8-char prefix (boilerplate openings) into one task;
    // instead the in-block position comes from PrefixSum.rank (coarse
    // cells over the packed post-prefix bytes split hot blocks across
    // tasks; shuffled — not broadcast — offsets, since blocks are
    // high-cardinality) and neighbor i is an equi-join on (blk, pos+i) —
    // row-identical to lead(i), never a whole block in one task.
    QueryDef(
      "q140_sorted_neighborhood",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .select(col("doc_id"),
            regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))
          .withColumn("key", substring(col("norm"), 1, 24))
          .withColumn("blk", substring(col("norm"), 1, 8))
        val ranked = graft.ops.PrefixSum.rank(
          d, Seq("blk"), col("key"), ascending = true, Seq(col("doc_id")), "__pos",
          cellKey = Some(graft.ops.PrefixSum.packAscii(col("key"), 9, 6)),
          broadcastOffsets = false)
        val offsets = (1 to 3).map(lit(_))
        val probes = ranked.select(col("doc_id"), col("norm"), col("blk"),
            explode(array(offsets: _*)).as("__i"),
            col("__pos"))
          .select(col("doc_id"), col("norm"), col("blk"),
            (col("__pos") + col("__i")).as("__npos"))
        probes
          .join(ranked.select(col("blk"), col("__pos").as("__npos"),
            col("doc_id").as("nid"), col("norm").as("nnorm")), Seq("blk", "__npos"))
          .withColumn("dist",
            levenshtein(substring(col("norm"), 1, 60), substring(col("nnorm"), 1, 60))
              .cast("bigint"))
          .filter(col("dist") <= 20)
          .select(col("doc_id"), col("nid").as("nbr_id"), col("dist"))
          .orderBy("doc_id", "nbr_id")
      },
      Some(s"""WITH d AS (SELECT doc_id,
              |             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
              |           FROM documents),
              |k AS (SELECT doc_id, norm, substr(norm, 1, 24) AS key,
              |             substr(norm, 1, 8) AS blk FROM d),
              |nb0 AS (SELECT doc_id, norm,
              |          lead(doc_id, 1) OVER w AS nid1, lead(norm, 1) OVER w AS nn1,
              |          lead(doc_id, 2) OVER w AS nid2, lead(norm, 2) OVER w AS nn2,
              |          lead(doc_id, 3) OVER w AS nid3, lead(norm, 3) OVER w AS nn3
              |        FROM k WINDOW w AS (PARTITION BY blk ORDER BY key, doc_id)),
              |nb AS (SELECT doc_id, norm, nid1 AS nid, nn1 AS nnorm FROM nb0
              |       UNION ALL SELECT doc_id, norm, nid2, nn2 FROM nb0
              |       UNION ALL SELECT doc_id, norm, nid3, nn3 FROM nb0),
              |p AS (SELECT doc_id, nid AS nbr_id,
              |        CAST(levenshtein(substr(norm, 1, 60), substr(nnorm, 1, 60)) AS BIGINT)
              |          AS dist
              |      FROM nb WHERE nid IS NOT NULL)
              |SELECT doc_id, nbr_id, dist FROM p
              |WHERE dist <= 20 ORDER BY doc_id, nbr_id""".stripMargin)),

    // DSIR-style importance weights (Xie et al. 2023): hashed-unigram
    // bucket distributions for a target slice (lang = 'en') vs the raw
    // corpus; each doc scores the mean log target/raw likelihood ratio of
    // its tokens. The 256-bucket stat table and the two totals broadcast;
    // token hashing is md5-derived so the DuckDB oracle recomputes the
    // identical buckets. The per-doc sum is rounded-term DECIMAL.
    QueryDef(
      "q141_dsir_weights",
      (s, dir) => {
        val tok = tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"), explode(Text.tokensNorm(col("text"))).as("t"))
          .filter(col("t") =!= "")
          .withColumn("b", Text.tokenHash32(col("t")) % 256)
        val bs = tok.groupBy("b").agg(
          count(lit(1)).as("cr"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
        val tot = bs.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
        val lw = log((col("ct").cast("double") + 1.0) / (col("nt").cast("double") + 256.0)) -
          log((col("cr").cast("double") + 1.0) / (col("nr").cast("double") + 256.0))
        tok.join(broadcast(bs), "b").crossJoin(broadcast(tot))
          .groupBy(col("doc_id"), col("lang"))
          .agg(
            count(lit(1)).as("n_toks"),
            sum(R(lw, 12).cast(DecimalType(24, 12))).cast("double").as("__s"))
          .select(col("doc_id"), col("lang"), col("n_toks"),
            R(col("__s") / col("n_toks").cast("double"), 4).as("mean_logratio"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id, lang, t
              |             FROM (SELECT doc_id, lang, unnest($wsSql) AS t FROM documents)
              |             WHERE t <> ''),
              |tb AS (SELECT doc_id, lang, ${hash32Sql("t")} % 256 AS b FROM tok),
              |bs AS (SELECT b, count(*) AS cr,
              |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
              |       FROM tb GROUP BY 1),
              |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bs),
              |j AS (SELECT doc_id, lang,
              |        ln((CAST(ct AS DOUBLE) + 1.0) / (CAST(nt AS DOUBLE) + 256.0)) -
              |        ln((CAST(cr AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + 256.0)) AS lw
              |      FROM tb JOIN bs USING (b) CROSS JOIN tot),
              |a AS (SELECT doc_id, lang, count(*) AS n_toks,
              |        CAST(sum(CAST(${rs("lw", 12)} AS DECIMAL(24,12))) AS DOUBLE) AS s
              |      FROM j GROUP BY 1, 2)
              |SELECT doc_id, lang, n_toks,
              |  ${rs("s / CAST(n_toks AS DOUBLE)", 4)} AS mean_logratio
              |FROM a ORDER BY doc_id""".stripMargin)),

    // Top-p (nucleus) corpus selection: per source, take docs in
    // quality-descending order until 80% of the source's token mass is
    // kept — the budgeted-selection counterpart of q113's temperature
    // quotas. The keep predicate is exact integer arithmetic
    // (5·cum_before < 4·total), so no float boundary exists; quality
    // ties break on doc_id. SCALE SHAPE: `source` has ~20 values, so a
    // `PARTITION BY source` running sum funnels N/20 docs into one task
    // at 100 TB — the running sum instead goes through
    // PrefixSum.exclusiveSum (coarse quality cells + exact offsets:
    // largest task ~N/(20·cells)) and the per-source token totals through
    // a hash agg + broadcast join instead of a partition-only window.
    QueryDef(
      "q142_topp_nucleus",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .withColumn("__t", Text.tokensNorm(col("text")))
          .select(col("doc_id"), col("source"),
            size(col("__t")).cast("long").as("n_tok"),
            Text.qualityScoreFromTokens(col("__t")).as("q"))
        val tots = d.groupBy(col("source")).agg(sum(col("n_tok")).as("tot"))
        val cum = graft.ops.PrefixSum.exclusiveSum(
            d, Seq("source"), col("q"), ascending = false,
            Seq(col("doc_id")), col("n_tok"), "cum_before")
          .join(broadcast(tots), Seq("source"))
          .withColumn("keep", col("cum_before") * 5 < col("tot") * 4)
        cum.groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("tok_kept"),
            max(col("tot")).as("tok_total"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT doc_id, source, len($wsSql) AS n_tok,
              |             (${TextQueries.scoreSql(Text.stopwordsEn)} / len($wsSql)) * 0.4 +
              |             (len(list_distinct($wsSql)) / len($wsSql)) * 0.3 +
              |             least(1.0, len($wsSql) / 100.0) * 0.3 AS q
              |           FROM documents),
              |c AS (SELECT doc_id, source, n_tok,
              |        coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY q DESC, doc_id
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
              |        sum(n_tok) OVER (PARTITION BY source) AS tot
              |      FROM d)
              |SELECT source, count(*) AS n_docs,
              |  CAST(sum(CASE WHEN cum_before * 5 < tot * 4 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_kept,
              |  CAST(sum(CASE WHEN cum_before * 5 < tot * 4 THEN n_tok ELSE 0 END) AS BIGINT)
              |    AS tok_kept,
              |  CAST(max(tot) AS BIGINT) AS tok_total
              |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // Duplicate-count inverse weighting: instead of dropping duplicates,
    // weight every copy by 1/cluster_size (exact md5 clusters) so each
    // distinct text contributes unit mass — the soft-dedup used when
    // repetition frequency itself is signal. Per-source "effective doc
    // count" = Σ 1/size as a rounded-term DECIMAL sum. One window over
    // the fingerprint (same shuffle family as exact dedup), one agg.
    QueryDef(
      "q143_dedup_weights",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"), Text.fingerprintMd5(col("text")).as("fp"))
          .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("fp"))))
        d.groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("fp")).as("n_clusters"),
            R(sum(R(lit(1.0) / col("sz").cast("double"), 12)
              .cast(DecimalType(24, 12))).cast("double"), 4).as("effective_docs"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT doc_id, source,
              |             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
              |           FROM documents),
              |c AS (SELECT source, fp, count(*) OVER (PARTITION BY fp) AS sz FROM d)
              |SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_clusters,
              |  ${rs("CAST(sum(CAST(" + rs("1.0 / CAST(sz AS DOUBLE)", 12) + " AS DECIMAL(24,12))) AS DOUBLE)", 4)} AS effective_docs
              |FROM c GROUP BY source ORDER BY source""".stripMargin)))
}

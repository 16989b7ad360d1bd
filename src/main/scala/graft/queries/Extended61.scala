package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.{Similarity, Streaming, Text}
import graft.ops.{Num, PrefixSum}
import QueryDef.tbl

/** Round-11 batch: the serving-path ANN composition, the one streaming
  * join mode the matrix lacked, and three corpus-curation operators.
  *
  * q310 composes the battery's two index structures into the production
  * billion-vector serving plan (FAISS IVFPQ shape): IVF cells prune
  * candidates, PQ codes + a per-query lookup table score them WITHOUT
  * reading float vectors (asymmetric distance computation), and the
  * short list reranks exactly. q40/q125 prove the parts; q310 puts the
  * COMPOSITION — the thing a user actually deploys — under the hash
  * gate end to end.
  *
  * q311 runs a stream-STATIC broadcast-dimension join as a real
  * StreamingQuery — the enrichment shape (event stream ⋈ slowly-changing
  * dimension) that q271's stream-stream join does not cover: no join
  * state at all, the static side re-plans per micro-batch.
  *
  * q312 is C4-style duplicated-span scrubbing (Raffel et al. 2020 §2.2
  * applied cross-document): fixed 5-token segments fingerprinted
  * corpus-wide; any segment appearing in ≥2 distinct documents is
  * boilerplate and is cut from EVERY document; documents reassemble from
  * their surviving segments. The decision table (per-doc segment/drop
  * counts + md5 of the scrubbed text) sits under the hash gate, so the
  * reassembly — not just the counts — is oracle-verified.
  *
  * q313 plans source mixing under a token budget: √t sampling weights
  * (temperature-style upweighting of small sources), per-source target
  * tokens, and the epoch cap that turns a target into a feasible
  * schedule — the planning readout a mixture run starts from.
  *
  * q314 assigns stratified balanced output shards: within each source,
  * docs order by token count descending and deal round-robin onto 8
  * shards (LPT-flavored balancing), so every shard gets the same source
  * mix and near-equal token mass. The per-source rank comes from
  * PrefixSum.rank — no PARTITION BY source window ever sees the
  * data-sized relation.
  */
object Extended61 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  val all: Seq[QueryDef] = Seq(
    // ----- q310: IVF+PQ ADC top-5 with exact rerank --------------------
    QueryDef(
      "q310_ivfpq_adc",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val n = graft.Tables.cachedCount(s, dir, "embeddings") // one memoized scalar; table stats at 100 TB
        Similarity
          .ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, cellStride = Similarity.sqrtStride(n),
            codeStride = math.max(1L, n / 64), // Long: n/64 overflows Int past ~137 B rows

            nSub = 4, subDim = 16, nProbe = 3)
          .select(col("qid"), col("cid"), col("rn"),
            R(col("adc"), 4).as("adc_r"), R(col("cos"), 4).as("cos_r"))
          .orderBy("qid", "rn")
      },
      Some(s"""WITH ${EmbeddingQueries.normCte},
              |c AS (SELECT e.vec_id cid, e.embedding ce, n.nrm cn
              |      FROM embeddings e JOIN n ON n.vec_id = e.vec_id),
              |q AS (SELECT e.vec_id qid, e.embedding qe, n.nrm qn
              |      FROM embeddings e JOIN n ON n.vec_id = e.vec_id WHERE e.vec_id < 10),
              |st AS (SELECT greatest(1, CAST(round(sqrt(count(*))) AS BIGINT)) AS sv
              |       FROM embeddings),
              |cent0 AS (SELECT cid AS cent_id, CAST(ce AS DOUBLE[]) AS cent_e, cn AS cent_n
              |          FROM c WHERE cid % (SELECT sv FROM st) = 0),
              |d0 AS (SELECT cid, cent_id,
              |         sum(CAST(ce[i] AS DOUBLE) * cent_e[i]) / (cn * cent_n) AS d
              |       FROM c CROSS JOIN cent0 CROSS JOIN range(1, 65) t(i)
              |       GROUP BY cid, cent_id, cn, cent_n),
              |a0 AS (SELECT cid, cent_id FROM (
              |         SELECT cid, cent_id,
              |           row_number() OVER (PARTITION BY cid ORDER BY d DESC, cent_id) rnk
              |         FROM d0) WHERE rnk = 1),
              |dp AS (SELECT qid, cent_id,
              |         sum(CAST(qe[i] AS DOUBLE) * cent_e[i]) / (qn * cent_n) AS d
              |       FROM q CROSS JOIN cent0 CROSS JOIN range(1, 65) t(i)
              |       GROUP BY qid, cent_id, qn, cent_n),
              |probe AS (SELECT qid, cent_id FROM (
              |            SELECT qid, cent_id,
              |              row_number() OVER (PARTITION BY qid ORDER BY d DESC, cent_id) rnk
              |            FROM dp) WHERE rnk <= 3),
              |cst AS (SELECT greatest(1, count(*) // 64) AS sv FROM embeddings),
              |cb AS (SELECT vec_id AS code_id, embedding AS cbe
              |       FROM embeddings WHERE vec_id % (SELECT sv FROM cst) = 0),
              |pd AS (SELECT v.vec_id, sp.s, cb.code_id,
              |         sum((CAST(v.embedding[sp.s*16 + i] AS DOUBLE) -
              |              CAST(cb.cbe[sp.s*16 + i] AS DOUBLE)) *
              |             (CAST(v.embedding[sp.s*16 + i] AS DOUBLE) -
              |              CAST(cb.cbe[sp.s*16 + i] AS DOUBLE))) AS d2
              |       FROM embeddings v
              |       CROSS JOIN range(0, 4) sp(s)
              |       CROSS JOIN cb
              |       CROSS JOIN range(1, 17) t(i)
              |       GROUP BY v.vec_id, sp.s, cb.code_id),
              |codes AS (SELECT vec_id, s, code_id FROM (
              |            SELECT vec_id, s, code_id,
              |              row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code_id) rnk
              |            FROM pd) WHERE rnk = 1),
              |lut AS (SELECT q.qid, sp.s, cb.code_id,
              |          sum(CAST(q.qe[sp.s*16 + i] AS DOUBLE) *
              |              CAST(cb.cbe[sp.s*16 + i] AS DOUBLE)) AS v
              |        FROM q CROSS JOIN range(0, 4) sp(s) CROSS JOIN cb
              |        CROSS JOIN range(1, 17) t(i)
              |        GROUP BY q.qid, sp.s, cb.code_id),
              |cand AS (SELECT p.qid, a.cid
              |         FROM probe p JOIN a0 a USING (cent_id) WHERE a.cid != p.qid),
              |adc AS (SELECT cd.qid, cd.cid,
              |          CAST(sum(CAST(l.v AS DECIMAL(38,18))) AS DOUBLE) AS adc
              |        FROM cand cd
              |        JOIN codes co ON co.vec_id = cd.cid
              |        JOIN lut l ON l.qid = cd.qid AND l.s = co.s AND l.code_id = co.code_id
              |        GROUP BY cd.qid, cd.cid),
              |r AS (SELECT qid, cid, adc,
              |        row_number() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS rn
              |      FROM adc),
              |x AS (SELECT r.qid, r.cid, r.rn, r.adc,
              |        sum(CAST(q.qe[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)) / (q.qn * c.cn) AS cos
              |      FROM r JOIN q USING (qid) JOIN c ON c.cid = r.cid
              |      CROSS JOIN range(1, 65) t(i)
              |      WHERE r.rn <= 5
              |      GROUP BY r.qid, r.cid, r.rn, r.adc, q.qn, c.cn)
              |SELECT qid, cid, rn, ${rs("adc", 4)} AS adc_r, ${rs("cos", 4)} AS cos_r
              |FROM x ORDER BY qid, rn""".stripMargin)),

    // ----- q311: stream-static broadcast enrichment join ---------------
    QueryDef(
      "q311_stream_static_join",
      (s, dir) => {
        val dim = s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey"), col("c_mktsegment"))
        Streaming.replay(s, s"$dir/events.parquet", "complete") {
          _.join(broadcast(dim), col("user_id") === col("c_custkey"))
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
        }
          .select(col("c_mktsegment"), col("n_events"),
            R(col("value_sum"), 4).as("value_sum_r"))
          .orderBy("c_mktsegment")
      },
      Some(s"""SELECT c.c_mktsegment,
              |  count(*) AS n_events,
              |  ${rs("sum(e.value)", 4)} AS value_sum_r
              |FROM events e JOIN customer c ON e.user_id = c.c_custkey
              |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // ----- q312: C4-style cross-document duplicated-span scrub ---------
    QueryDef(
      "q312_span_scrub",
      (s, dir) => {
        val toks = Text.tokensNorm(col("text"))
        val lastSeg = floor((size(toks) - lit(1)) / lit(5)).cast("int")
        val segArr = transform(
          sequence(lit(0), lastSeg),
          j => concat_ws(" ", slice(toks, (j * 5 + 1).cast("int"), lit(5))))
        // Ckpt (r16): segs feeds the hot-fingerprint rollup AND the
        // join-back — the tokenize+segment+md5 pass otherwise ran twice
        val segs = graft.ops.Ckpt(tbl(s, dir, "documents")
          .select(col("doc_id"), posexplode(segArr).as(Seq("pos", "seg")))
          .withColumn("fp", md5(col("seg"))))
        // corpus-wide boilerplate fingerprints: one hash agg on a
        // high-cardinality key, then an equi-join back (both shuffle on
        // fp — distributes at any scale; no broadcast assumption, the
        // hot set is data-sized in the worst case)
        val hot = segs.groupBy(col("fp"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select(col("fp"), lit(true).as("dup"))
        segs.join(hot, Seq("fp"), "left")
          .withColumn("dup", coalesce(col("dup"), lit(false)))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_segs"),
            sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_segs"),
            md5(concat_ws(" ", transform(
              array_sort(collect_list(when(!col("dup"),
                struct(col("pos"), col("seg"))))),
              x => x.getField("seg")))).as("scrubbed_fp"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id,
             |            string_split_regex(trim(lower(text)), '\s+') AS ws
             |          FROM documents),
             |wj AS (SELECT doc_id, ws,
             |         unnest(generate_series(0, (len(ws) - 1) // 5)) AS j
             |       FROM w),
             |sg AS (SELECT doc_id, j AS pos,
             |         array_to_string(list_slice(ws, j*5 + 1, j*5 + 5), ' ') AS seg
             |       FROM wj),
             |f AS (SELECT doc_id, pos, seg, md5(seg) AS fp FROM sg),
             |hot AS (SELECT fp FROM f GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
             |fl AS (SELECT f.doc_id, f.pos, f.seg, (hot.fp IS NOT NULL) AS dup
             |       FROM f LEFT JOIN hot ON hot.fp = f.fp)
             |SELECT doc_id,
             |  count(*) AS n_segs,
             |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
             |  md5(coalesce(string_agg(CASE WHEN NOT dup THEN seg END, ' ' ORDER BY pos),
             |      '')) AS scrubbed_fp
             |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ----- q313: token-budget mixing schedule --------------------------
    QueryDef(
      "q313_epoch_schedule",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .select(col("source"),
            size(Text.tokensNorm(col("text"))).cast("long").as("n_tok"))
        val per = d.groupBy(col("source")).agg(sum(col("n_tok")).as("t"))
        // √t weights: sqrt is correctly-rounded IEEE (engine-exact, unlike
        // pow); the 20-value weight total accumulates in DECIMAL so the
        // sum is order-independent
        val tot = per.agg(
          sum(col("t")).as("tt"),
          sum(sqrt(col("t").cast("double")).cast(DecimalType(38, 18)))
            .cast("double").as("ww"))
        per.crossJoin(broadcast(tot))
          .withColumn("w", sqrt(col("t").cast("double")))
          .withColumn("budget", col("tt").cast("double") * lit(0.5))
          .withColumn("target", col("w") / col("ww") * col("budget"))
          .withColumn("epochs",
            least(lit(4.0), col("target") / col("t").cast("double")))
          .select(col("source"), col("t"),
            R(col("w"), 6).as("w_r"),
            R(col("target"), 6).as("target_tokens_r"),
            R(col("epochs"), 6).as("epochs_r"),
            // capped from the ROUNDED ratio so the emitted pair is
            // internally consistent: capped ⇔ epochs_r == 4.0 exactly
            (R(col("target") / col("t").cast("double"), 6) >= lit(4.0)).as("capped"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT source,
              |            CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
              |              AS n_tok
              |          FROM documents),
              |per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS t FROM d GROUP BY 1),
              |tot AS (SELECT CAST(sum(t) AS BIGINT) AS tt,
              |          CAST(sum(CAST(sqrt(CAST(t AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE)
              |            AS ww
              |        FROM per)
              |SELECT source, t,
              |  ${rs("sqrt(CAST(t AS DOUBLE))", 6)} AS w_r,
              |  ${rs("sqrt(CAST(t AS DOUBLE)) / ww * (CAST(tt AS DOUBLE) * 0.5)", 6)}
              |    AS target_tokens_r,
              |  ${rs("least(4.0, sqrt(CAST(t AS DOUBLE)) / ww * (CAST(tt AS DOUBLE) * 0.5) / CAST(t AS DOUBLE))", 6)}
              |    AS epochs_r,
              |  ${rs("sqrt(CAST(t AS DOUBLE)) / ww * (CAST(tt AS DOUBLE) * 0.5) / CAST(t AS DOUBLE)", 6)}
              |    >= 4.0 AS capped
              |FROM per CROSS JOIN tot ORDER BY source""".stripMargin)),

    // ----- q314: stratified balanced shard assignment ------------------
    QueryDef(
      "q314_balanced_shards",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(Text.tokensNorm(col("text"))).cast("long").as("n_tok"))
        // token counts are small integers with data-sized tie runs — the
        // default order-as-surrogate co-locates every tie in one cell
        // (hot-value funnel); tieCell splits ties by doc_id so the
        // in-cell task bound is N/(keys·cells), not value multiplicity
        val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
        val sharded = PrefixSum.rank(
            d, Seq("source"), col("n_tok"), ascending = false,
            Seq(col("doc_id")), "__rnk",
            cellKey = Some(PrefixSum.tieCell(
              col("n_tok"), ascending = false, col("doc_id"), maxId)))
          .withColumn("shard", ((col("__rnk") - 1) % 8).cast("int"))
          .drop("__rnk")
        val totals = sharded.groupBy(col("shard"))
          .agg(count(lit(1)).as("shard_docs"), sum(col("n_tok")).as("shard_tokens"))
        sharded.join(broadcast(totals), Seq("shard"))
          .select(col("doc_id"), col("source"), col("n_tok"), col("shard"),
            col("shard_docs"), col("shard_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |            CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
             |              AS n_tok
             |          FROM documents),
             |r AS (SELECT doc_id, source, n_tok,
             |        CAST((row_number() OVER (PARTITION BY source
             |                                 ORDER BY n_tok DESC, doc_id) - 1) % 8
             |          AS INT) AS shard
             |      FROM d),
             |t AS (SELECT shard, count(*) AS shard_docs,
             |        CAST(sum(n_tok) AS BIGINT) AS shard_tokens
             |      FROM r GROUP BY 1)
             |SELECT doc_id, source, n_tok, r.shard, shard_docs, shard_tokens
             |FROM r JOIN t ON t.shard = r.shard ORDER BY doc_id""".stripMargin))
  )
}

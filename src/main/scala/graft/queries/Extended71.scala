package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.IvfIndex
import graft.ext.IvfIndex.Cache.{Recipe, HiRes, Rebuilt}
import graft.ops.Num
import QueryDef.tbl

/** Round-16 batch: the two lifecycle levers the round-15 verdict ranked —
  * the PQ RESOLUTION axis (q334) and REBUILD as a first-class operator
  * (q335/q336).
  *
  * q334: the battery's production PQ config (64 codewords × nSub=4,
  * q125's oracle-pinned rule) demonstrates compression but not ranking —
  * raw ADC tie-saturates within a cluster (pre-rerank recall 0.012,
  * BENCH_SF1 r15). The standard FAISS geometry (256 codewords × nSub=8 ×
  * subDim=8, i.e. 8-bit codes) is the lever that buys within-cluster
  * rank resolution; q334 hash-gates the whole hi-res path (build, encode,
  * LUT, ADC, rerank) and RecallSpec pins the axis on clustered data.
  *
  * q335/q336: the monitor's rebuild trigger (q330's imbalance_r) finally
  * has a callable target — [[graft.ext.IvfIndex.rebuild]] retrains on the
  * accumulated corpus read from the index's own inverted file, rebuilds
  * the pairs artifact at its baked threshold, and replaces everything in
  * one crash-safe `ops.Publish` commit. The gate is an IDENTITY: build(90%) →
  * refresh(10%) → rebuild must serve exactly like a FRESH build on the
  * full corpus (rebuild re-derives √N'/4√N'/N'/64 from the union count,
  * and the invfile round-trips every vector bit-exactly), so q335 reuses
  * q324's oracle verbatim and q336 reuses q327's — any rebuild defect
  * (stale parameterization, re-encoded codes against the wrong codebook,
  * a pairs set carried over instead of rebuilt) is a hash mismatch.
  */
object Extended71 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)

  /** q334's oracle: the sampled-train build (coarse quantizer unchanged)
    * + the ADC tail at the hi-res geometry.
    */
  private val hiResOracleSql: String = {
    val tail = Extended68.pqAdcServeTailSqlFor("TRUE",
      nSub = IvfIndex.Cache.nSubHi, subDim = IvfIndex.Cache.subDimHi,
      nCodewords = IvfIndex.Cache.nCodewordsHi)
    s"""${EmbeddingQueries.sampledTrainBuildCtes},
       |$tail""".stripMargin
  }

  /** The RESIDUAL ADC serve unrolled as CTE tail text (probe → residual
    * formation → residual-space codebook → encode → LUT → decomposed ADC
    * → rerank), against whatever `cent1`/`a3`/`c`/`q` build CTEs the
    * caller prepends — every corpus vector's residual is
    * `embedding − cent_e` of its a3-assigned centroid; the strided
    * codebook lives in residual space (codeword = strided vector's
    * residual); the candidate score is
    * `dot(q, centroid) + Σ_s lut(q, s, code_s)` with the cross-subspace
    * sum DECIMAL-accumulated, mirroring [[graft.ext.Similarity.adcTopK]]
    * with the centroid term servePqTopK adds for a residual index, term
    * for term. Component arithmetic keeps Spark's op order exactly:
    * `(v[i] − cent_v[i]) − (w[i] − cent_w[i])` is the same three IEEE
    * subtractions as Spark's residual-array-then-diff fold.
    *
    * `cstPred` (over embeddings.vec_id) restricts the corpus count that
    * SIZES the codebook stride; `cbrPred` (over a.cid) restricts which
    * assigned rows seed codewords — both "TRUE" for a full-corpus build
    * (q337/q339), the 90% predicate for the refreshed index whose
    * codebook was built before the delta arrived (q338, mirroring q329's
    * codebook-provenance parameterization).
    */
  private[queries] def residualAdcTailSql(cstPred: String, cbrPred: String): String = {
    val (ns, sd, cw) =
      (IvfIndex.Cache.nSubHi, IvfIndex.Cache.subDimHi, IvfIndex.Cache.nCodewordsHi)
    val idx = s"sp.s*$sd + i"
    s"""${Extended68.adcProbeCtes},
       |cst AS (SELECT greatest(1, count(*) // $cw) AS sv FROM embeddings
       |        WHERE $cstPred),
       |cbr AS (SELECT a.cid AS code_id, a.cent_id FROM a3 a
       |        WHERE ($cbrPred) AND a.cid % (SELECT sv FROM cst) = 0),
       |pd AS (SELECT v.vec_id, sp.s, b.code_id,
       |         sum(((CAST(v.embedding[$idx] AS DOUBLE) - cv.cent_e[$idx]) -
       |              (CAST(w.embedding[$idx] AS DOUBLE) - cw.cent_e[$idx])) *
       |             ((CAST(v.embedding[$idx] AS DOUBLE) - cv.cent_e[$idx]) -
       |              (CAST(w.embedding[$idx] AS DOUBLE) - cw.cent_e[$idx]))) AS d2
       |       FROM embeddings v
       |       JOIN a3 av ON av.cid = v.vec_id
       |       JOIN cent1 cv ON cv.cent_id = av.cent_id
       |       CROSS JOIN range(0, $ns) sp(s)
       |       CROSS JOIN cbr b
       |       JOIN embeddings w ON w.vec_id = b.code_id
       |       JOIN cent1 cw ON cw.cent_id = b.cent_id
       |       CROSS JOIN range(1, ${sd + 1}) t(i)
       |       GROUP BY v.vec_id, sp.s, b.code_id),
       |codes AS (SELECT vec_id, s, code_id FROM (
       |            SELECT vec_id, s, code_id,
       |              row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code_id) rnk
       |            FROM pd) WHERE rnk = 1),
       |lut AS (SELECT q.qid, sp.s, b.code_id,
       |          sum(CAST(q.qe[$idx] AS DOUBLE) *
       |              (CAST(w.embedding[$idx] AS DOUBLE) - cw.cent_e[$idx])) AS v
       |        FROM q CROSS JOIN range(0, $ns) sp(s)
       |        CROSS JOIN cbr b
       |        JOIN embeddings w ON w.vec_id = b.code_id
       |        JOIN cent1 cw ON cw.cent_id = b.cent_id
       |        CROSS JOIN range(1, ${sd + 1}) t(i)
       |        GROUP BY q.qid, sp.s, b.code_id),
       |qc AS (SELECT p.qid, p.cent_id,
       |         sum(CAST(q.qe[i] AS DOUBLE) * cent1.cent_e[i]) AS cdot
       |       FROM probe p JOIN q USING (qid) JOIN cent1 USING (cent_id)
       |       CROSS JOIN range(1, 65) t(i)
       |       GROUP BY p.qid, p.cent_id),
       |cand AS (SELECT p.qid, a.cid, a.cent_id
       |         FROM probe p JOIN a3 a USING (cent_id) WHERE a.cid != p.qid),
       |adc AS (SELECT cd.qid, cd.cid, cd.cent_id,
       |          CAST(sum(CAST(l.v AS DECIMAL(38,18))) AS DOUBLE) AS radc
       |        FROM cand cd
       |        JOIN codes co ON co.vec_id = cd.cid
       |        JOIN lut l ON l.qid = cd.qid AND l.s = co.s AND l.code_id = co.code_id
       |        GROUP BY cd.qid, cd.cid, cd.cent_id),
       |r AS (SELECT a.qid, a.cid, (a.radc + qc.cdot) AS adc,
       |        row_number() OVER (
       |          PARTITION BY a.qid ORDER BY (a.radc + qc.cdot) DESC, a.cid) AS rn
       |      FROM adc a JOIN qc ON qc.qid = a.qid AND qc.cent_id = a.cent_id),
       |x AS (SELECT r.qid, r.cid, r.rn, r.adc,
       |        sum(CAST(q.qe[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)) / (q.qn * c.cn) AS cos
       |      FROM r JOIN q USING (qid) JOIN c ON c.cid = r.cid
       |      CROSS JOIN range(1, 65) t(i)
       |      WHERE r.rn <= 5
       |      GROUP BY r.qid, r.cid, r.rn, r.adc, q.qn, c.cn)
       |SELECT qid, cid, rn, ${Num.roundSql("adc", 4)} AS adc_r, ${Num.roundSql("cos", 4)} AS cos_r
       |FROM x ORDER BY qid, rn""".stripMargin
  }

  /** q337's oracle (reused verbatim by q339, whose rebuilt index must
    * equal this fresh full-corpus build): the sampled-train build CTEs +
    * the residual ADC tail, unrestricted.
    */
  private[queries] val residualOracleSql: String =
    s"""${EmbeddingQueries.sampledTrainBuildCtes},
       |${residualAdcTailSql("TRUE", "TRUE")}""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // ----- q334: hi-resolution PQ ADC serve (256 codewords × nSub=8) ----
    // Same persisted ADC serve plan as q326; only the PQ geometry
    // changes. The oracle re-derives the strided codebook at N/256 and
    // replays encode + LUT + ADC + rerank at the 8×8 geometry — the
    // parameterized twin of q326's CTE tail.
    QueryDef(
      "q334_pq_hires_adc_serve",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(HiRes))
        val emb = tbl(s, dir, "embeddings")
        IvfIndex
          .servePqTopK(s, ix, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, nSub = IvfIndex.Cache.nSubHi, subDim = IvfIndex.Cache.subDimHi,
            nProbe = 3)
          .select(col("qid"), col("cid"), col("rn"),
            R(col("adc"), 4).as("adc_r"), R(col("cos"), 4).as("cos_r"))
          .orderBy("qid", "rn")
      },
      Some(hiResOracleSql)),

    // ----- q335: IVF-Flat serve after a full REBUILD ---------------------
    // The lifecycle's close: the rebuilt index must be indistinguishable
    // from a fresh build on the accumulated corpus — q324's oracle,
    // verbatim. The serve plan reads ONLY committed artifacts, so a commit
    // that left any component stale (old centroids with new lists, old
    // codebook, leftover staging) mismatches here.
    QueryDef(
      "q335_rebuild_serve",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(life = Rebuilt))
        val emb = tbl(s, dir, "embeddings")
        IvfIndex
          .serveTopK(s, ix, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, nProbe = 3)
          .select(col("qid"), col("cid"), col("rn"), R(col("cos"), 4).as("cos_r"))
          .orderBy("qid", "rn")
      },
      Some(EmbeddingQueries.sampledTrainIvfOracleSql)),

    // ----- q336: SemDeDup pairs artifact after a full REBUILD -----------
    // rebuild must also RE-DERIVE the pairs artifact (the old set's cells
    // no longer exist; carrying it over would mix quantizer generations).
    // Serving the decision table from the rebuilt pairs/ alone must equal
    // from-scratch SemDeDup on the full corpus at the baked threshold —
    // q327's oracle, verbatim.
    QueryDef(
      "q336_rebuild_pairs_serve",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(life = Rebuilt))
        IvfIndex
          .serveSemDedupFromPairs(s, ix, tbl(s, dir, "embeddings"), "vec_id")
          .orderBy("id")
      },
      Some(Extended68.sampledSemDedupOracleSql)),

    // ----- q337: RESIDUAL-PQ ADC serve (the full IVFADC recipe) ---------
    // The lever that actually buys pre-rerank rank resolution: q334's
    // raw-vector axis measured FLAT (0.084 → 0.072 pre-rerank recall from
    // 64 → 256 codewords on clustered data) because raw codes re-encode
    // the cluster center all members share; residual codes (x − centroid)
    // spend the same bytes on the distinguishing component. Hash-gated
    // end to end: residual formation against the a3 assignment, the
    // residual-space strided codebook, encode tie-breaks, the
    // decomposed ADC score (centroid dot + DECIMAL-summed LUT terms),
    // and the exact rerank.
    QueryDef(
      "q337_pq_residual_adc_serve",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(HiRes, residual = true))
        val emb = tbl(s, dir, "embeddings")
        IvfIndex
          .servePqTopK(s, ix, emb.filter(col("vec_id") < 10), "vec_id",
            "embedding", k = 5, nSub = IvfIndex.Cache.nSubHi,
            subDim = IvfIndex.Cache.subDimHi, nProbe = 3)
          .select(col("qid"), col("cid"), col("rn"),
            R(col("adc"), 4).as("adc_r"), R(col("cos"), 4).as("cos_r"))
          .orderBy("qid", "rn")
      },
      Some(residualOracleSql))
  )
}

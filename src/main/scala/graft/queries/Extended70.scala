package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.IvfIndex
import graft.ext.IvfIndex.Cache.{Recipe, StreamRefreshed}
import graft.ops.Num
import QueryDef.tbl

/** Round-15 batch: PQ codebook TRAINING — the round-14 verdict's top gap.
  * Every prior PQ consumer (q125/q310/q326/q329) codes against a
  * `codeStride`-strided sample of corpus vectors: correct, deterministic,
  * oracle-replayable, but not the FAISS recipe, and the one place the
  * production-twin claim was thinner than the artifact. q332 builds the
  * index with PER-SUBSPACE Lloyd-trained codewords
  * ([[graft.ext.Similarity.trainSubCodebooks]] — one iteration per
  * subquantizer on the same ~4√N sample that trains the coarse
  * quantizer) and serves ADC top-k from it, with the oracle unrolling the
  * subspace training in SQL. RecallSpec pins the QUALITY claims the hash
  * gate can't see (reconstruction error ≤ the strided codebook's; ADC
  * recall on clustered data); BENCH_SF1.md records the full pre-/post-
  * rerank ADC recall curve.
  */
object Extended70 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)

  /** Per-subspace codebook training as CTE text, mirroring
    * [[graft.ext.Similarity.trainSubCodebooks]] bit-for-bit: seed
    * codewords `cb0` (the strided corpus sample q326's codebook IS),
    * per-(vector, subspace) nearest-codeword assignment over the training
    * sample `cs` (same squared-L2 fold and (d2, code_id) tie-break as the
    * encode), per-(subspace, codeword, position) DECIMAL-accumulated
    * means, and reassembly with seed-slice fallback for (subspace,
    * codeword) cells that attracted no member. Ends in `cb` (code_id,
    * cbe) — the relation [[Extended68.adcScoreTailSql]] scores against.
    * Assumes `cs` (the ~4√N sample of `c`) already defined.
    */
  private[queries] val trainedCbCtes: String =
    s"""cst AS (SELECT greatest(1, count(*) // 64) AS sv FROM embeddings),
       |cb0 AS (SELECT vec_id AS code_id, embedding AS cbe
       |        FROM embeddings WHERE vec_id % (SELECT sv FROM cst) = 0),
       |tpd AS (SELECT t.cid AS vid, sp.s, cb0.code_id,
       |         sum((CAST(t.ce[sp.s*16 + i] AS DOUBLE) -
       |              CAST(cb0.cbe[sp.s*16 + i] AS DOUBLE)) *
       |             (CAST(t.ce[sp.s*16 + i] AS DOUBLE) -
       |              CAST(cb0.cbe[sp.s*16 + i] AS DOUBLE))) AS d2
       |       FROM cs t CROSS JOIN range(0, 4) sp(s) CROSS JOIN cb0
       |       CROSS JOIN range(1, 17) ti(i)
       |       GROUP BY t.cid, sp.s, cb0.code_id),
       |tbest AS (SELECT vid, s, code_id FROM (
       |           SELECT vid, s, code_id,
       |             row_number() OVER (PARTITION BY vid, s ORDER BY d2, code_id) rnk
       |           FROM tpd) WHERE rnk = 1),
       |tm AS (SELECT b.s, b.code_id, ti.i AS p,
       |        CAST(sum(CAST(CAST(t.ce[b.s*16 + ti.i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) /
       |          CAST(count(*) AS DOUBLE) AS mv
       |      FROM tbest b JOIN cs t ON t.cid = b.vid CROSS JOIN range(1, 17) ti(i)
       |      GROUP BY b.s, b.code_id, ti.i),
       |cbp AS (SELECT c0.code_id, sp.s, ti.i AS p,
       |         coalesce(tm.mv, CAST(c0.cbe[sp.s*16 + ti.i] AS DOUBLE)) AS v
       |       FROM cb0 c0 CROSS JOIN range(0, 4) sp(s) CROSS JOIN range(1, 17) ti(i)
       |       LEFT JOIN tm ON tm.code_id = c0.code_id AND tm.s = sp.s AND tm.p = ti.i),
       |cb AS (SELECT code_id, list(v ORDER BY s*16 + p) AS cbe FROM cbp GROUP BY code_id)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // ----- q332: ADC serve from a per-subspace-TRAINED codebook ---------
    // Same persisted-serve plan as q326 (probe → LUT → code-only
    // candidate scoring → exact rerank) but the codebook is the FAISS
    // recipe: nSub independent subquantizers, each Lloyd-refined on the
    // sample. The hash gate covers the training itself — assignment
    // tie-breaks, the DECIMAL mean, the empty-cell seed fallback, and the
    // re-encode of the whole corpus against the TRAINED codewords (codes
    // in the inverted lists must come from the persisted codebook, the
    // same resume-from-artifact posture q329 gates for refresh).
    QueryDef(
      "q332_pq_trained_codebook",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(trainedCodebook = true))
        val emb = tbl(s, dir, "embeddings")
        IvfIndex
          .servePqTopK(s, ix, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, nSub = IvfIndex.Cache.nSub, subDim = IvfIndex.Cache.subDim,
            nProbe = 3)
          .select(col("qid"), col("cid"), col("rn"),
            R(col("adc"), 4).as("adc_r"), R(col("cos"), 4).as("cos_r"))
          .orderBy("qid", "rn")
      },
      Some(s"""${EmbeddingQueries.sampledTrainBuildCtes},
              |${Extended68.adcProbeCtes},
              |$trainedCbCtes,
              |${Extended68.adcScoreTailSql}""".stripMargin)),

    // ----- q333: STREAMING ingest → index refresh -----------------------
    // The lifecycle's ingestion side goes from batch-only to the north
    // star's "batch/stream" pair: the 10% delta arrives as structured-
    // streaming micro-batches (file replay, one file per trigger,
    // Trigger.AvailableNow — the battery's q151/q322 mechanics), each
    // micro-batch driving one IvfIndex.refresh via foreachBatch, pair
    // maintenance included. Refresh is exactly-once per row and batch-
    // order independent (Extended69Spec), so the drained index must
    // serve EXACTLY like q328's single-batch refresh — the oracle is
    // q328's verbatim, which makes any stream-only defect (a dropped or
    // double-processed micro-batch, delta rows coded against a partial
    // codebook, a cross-batch pair missed) a hash mismatch at every SF.
    QueryDef(
      "q333_stream_refresh_serve",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(life = StreamRefreshed))
        val emb = tbl(s, dir, "embeddings")
        IvfIndex
          .serveTopK(s, ix, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, nProbe = 3)
          .select(col("qid"), col("cid"), col("rn"), R(col("cos"), 4).as("cos_r"))
          .orderBy("qid", "rn")
      },
      Some(s"""WITH ${Extended69.refreshedBuildCtes},
              |${EmbeddingQueries.ivfServeTailSql}""".stripMargin))
  )
}

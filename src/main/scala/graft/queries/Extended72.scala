package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.IvfIndex
import graft.ext.IvfIndex.Cache.{Recipe, HiRes, Refreshed, Rebuilt}
import graft.ops.Num
import QueryDef.tbl

/** Round-16 batch, part 2: the RESIDUAL-coded index's lifecycle. q337
  * proved residual PQ is the resolution lever (pre-rerank ADC recall
  * 0.204 → 0.800 at the same byte budget), but the lifecycle operations
  * were raw-only: [[IvfIndex.refresh]] encoded delta vectors RAW against
  * whatever codebook the index persisted, and [[IvfIndex.rebuild]] staged
  * through the raw [[IvfIndex.build]] — on a residual index either one
  * silently corrupts the ADC path (the `_PQ_RESIDUAL` flag survives,
  * servePqTopK keeps adding the centroid term, and the exact-rerank
  * vectors are untouched, so nothing errors; only serve ranks go wrong).
  * Both now key on the flag (which lives in `codebook/`, so a rebuild
  * replaces it with the codebook it describes), as does the one ADC
  * serve, [[IvfIndex.servePqTopK]]; these two queries put the residual
  * layout's refresh and rebuild under the hash gate.
  *
  * q338: buildResidual(90%) → refresh(10%) → residual ADC serve. The
  * oracle composes q328's old-trained build CTEs (centroids + codebook
  * provenance from the 90% sub-corpus, assignment over the union — the
  * refresh identity) with q337's residual ADC tail (residual formation
  * over the FULL corpus, delta included). A refresh that encoded the
  * delta raw mismatches in every delta candidate's ADC score; one that
  * re-derived the codebook from the union mismatches in the codeword set
  * (q329's provenance gate, replayed in residual space).
  *
  * q339: buildResidual(90%) → refresh(10%) → rebuild → residual ADC
  * serve. rebuild must stage residual codes at union-derived
  * parameters, so the committed index equals a FRESH buildResidual on the
  * full corpus — q337's oracle, verbatim (the identity q335 pins for the
  * raw lifecycle).
  */
object Extended72 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)

  private val residualRefreshOracleSql: String =
    s"""WITH ${Extended69.refreshedBuildCtes},
       |${Extended71.residualAdcTailSql("vec_id % 10 != 9", "a.cid % 10 != 9")}""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // ----- q338: residual ADC serve after an incremental refresh --------
    QueryDef(
      "q338_residual_refresh_serve",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(HiRes, residual = true, life = Refreshed))
        val emb = tbl(s, dir, "embeddings")
        IvfIndex
          .servePqTopK(s, ix, emb.filter(col("vec_id") < 10), "vec_id",
            "embedding", k = 5, nSub = IvfIndex.Cache.nSubHi,
            subDim = IvfIndex.Cache.subDimHi, nProbe = 3)
          .select(col("qid"), col("cid"), col("rn"),
            R(col("adc"), 4).as("adc_r"), R(col("cos"), 4).as("cos_r"))
          .orderBy("qid", "rn")
      },
      Some(residualRefreshOracleSql)),

    // ----- q339: residual ADC serve after a full REBUILD ----------------
    QueryDef(
      "q339_residual_rebuild_serve",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(HiRes, residual = true, life = Rebuilt))
        val emb = tbl(s, dir, "embeddings")
        IvfIndex
          .servePqTopK(s, ix, emb.filter(col("vec_id") < 10), "vec_id",
            "embedding", k = 5, nSub = IvfIndex.Cache.nSubHi,
            subDim = IvfIndex.Cache.subDimHi, nProbe = 3)
          .select(col("qid"), col("cid"), col("rn"),
            R(col("adc"), 4).as("adc_r"), R(col("cos"), 4).as("cos_r"))
          .orderBy("qid", "rn")
      },
      Some(Extended71.residualOracleSql))
  )
}

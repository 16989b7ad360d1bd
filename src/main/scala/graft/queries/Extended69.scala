package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.IvfIndex
import graft.ext.IvfIndex.Cache.{Recipe, Refreshed}
import graft.ops.Num
import QueryDef.tbl

/** Round-14 batch: the persisted index's REFRESH path — the lifecycle
  * operation round 13 left missing (build and serve existed; a growing
  * corpus runs refresh per ingest batch).
  *
  * Both queries serve from ONE refreshed index per fixture
  * (`IvfIndex.Cache.indexFor` with `Recipe(life = Refreshed)`): the corpus splits 90/10 by
  * `vec_id % 10`, the index is built on the 90% "old" corpus (√N stride,
  * ~4√N training sample, N/64 codebook — all sized from the OLD count,
  * exactly like a deployment that trained before the delta arrived), and
  * [[IvfIndex.refresh]] assigns ONLY the 10% delta against the persisted
  * centroids (no retrain) and appends it into the partitioned inverted
  * file — O(ΔN×√N), never touching existing cells' files.
  *
  * The hash gate pins the lifecycle identity: serving the refreshed index
  * ≡ serving a from-scratch assignment of the UNION corpus against the
  * old-trained quantizer. The oracle replays exactly that in SQL — the
  * training CTEs range over the old sub-corpus, the assignment CTE over
  * the full corpus — so a refresh that retrained, re-encoded against a
  * delta-derived codebook, dropped a delta vector, or duplicated an old
  * one is a hash mismatch at every SF.
  */
object Extended69 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)

  /** The refreshed-index build as CTE text (no WITH prefix — consumers
    * prepend `WITH ` or `WITH RECURSIVE ` as their tail demands): same
    * shape as [[EmbeddingQueries.sampledTrainBuildCtes]] but the seed
    * (`cent0`), training sample (`cs`), and the √N/4√N strides (`st`) all
    * range over the 90% OLD sub-corpus, while the assignment (`a3`)
    * ranges over the FULL corpus — old rows assigned at build time, delta
    * rows at refresh, identical per-row math either way.
    */
  private[queries] val refreshedBuildCtes: String =
    s"""${EmbeddingQueries.normCte},
       |c AS (SELECT e.vec_id cid, e.embedding ce, n.nrm cn
       |      FROM embeddings e JOIN n ON n.vec_id = e.vec_id),
       |q AS (SELECT e.vec_id qid, e.embedding qe, n.nrm qn
       |      FROM embeddings e JOIN n ON n.vec_id = e.vec_id WHERE e.vec_id < 10),
       |o AS (SELECT * FROM c WHERE cid % 10 != 9),
       |st AS (SELECT greatest(1, CAST(round(sqrt(count(*))) AS BIGINT)) AS sv,
       |         greatest(1, count(*) //
       |           (4 * greatest(1, CAST(round(sqrt(count(*))) AS BIGINT)))) AS tv
       |       FROM embeddings WHERE vec_id % 10 != 9),
       |cs AS (SELECT * FROM o WHERE cid % (SELECT tv FROM st) = 0),
       |cent0 AS (SELECT cid AS cent_id, CAST(ce AS DOUBLE[]) AS cent_e, cn AS cent_n
       |          FROM o WHERE cid % (SELECT sv FROM st) = 0),
       |${EmbeddingQueries.lloydIter("cent0", "a1", "m1", "cent1", rel = "cs")},
       |d3 AS (SELECT cid, cent_id,
       |         sum(CAST(ce[i] AS DOUBLE) * cent_e[i]) / (cn * cent_n) AS d
       |       FROM c CROSS JOIN cent1 CROSS JOIN range(1, 65) t(i)
       |       GROUP BY cid, cent_id, cn, cent_n),
       |a3 AS (SELECT cid, cent_id FROM (
       |         SELECT cid, cent_id,
       |           row_number() OVER (PARTITION BY cid ORDER BY d DESC, cent_id) rnk
       |         FROM d3) WHERE rnk = 1)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // ----- q328: IVF-Flat serve after an incremental refresh ------------
    // The daily operation of a 100 TB deployment: the quarterly build
    // (q323) trained and persisted the quantizer; each ingest batch pays
    // only refresh (ΔN×√N assignment + append) and queries keep serving
    // the √N-per-decade plan (q324). This query gates that the refreshed
    // artifact serves the union corpus exactly.
    QueryDef(
      "q328_ivf_incremental_refresh",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(life = Refreshed))
        val emb = tbl(s, dir, "embeddings")
        IvfIndex
          .serveTopK(s, ix, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, nProbe = 3)
          .select(col("qid"), col("cid"), col("rn"), R(col("cos"), 4).as("cos_r"))
          .orderBy("qid", "rn")
      },
      Some(s"""WITH $refreshedBuildCtes,
              |${EmbeddingQueries.ivfServeTailSql}""".stripMargin)),

    // ----- q329: IVF+PQ ADC serve after an incremental refresh ----------
    // Same refreshed artifact, billion-vector serving plan: the delta's
    // PQ codes were written by refresh AGAINST THE PERSISTED (old-corpus)
    // CODEBOOK — the one refresh subtlety the IVF-Flat gate can't see
    // (q328 scores full vectors; only the ADC path reads codes). The
    // oracle derives the codebook from the 90% sub-corpus (its count
    // sizes the N/64 code stride) and encodes the FULL corpus against it,
    // so a refresh that re-derived codes from the delta — plausible,
    // deterministic, and wrong at serve time — hash-mismatches here.
    QueryDef(
      "q329_ivfpq_refresh_serve",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(life = Refreshed))
        val emb = tbl(s, dir, "embeddings")
        IvfIndex
          .servePqTopK(s, ix, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, nSub = IvfIndex.Cache.nSub, subDim = IvfIndex.Cache.subDim,
            nProbe = 3)
          .select(col("qid"), col("cid"), col("rn"),
            R(col("adc"), 4).as("adc_r"), R(col("cos"), 4).as("cos_r"))
          .orderBy("qid", "rn")
      },
      Some(s"""WITH $refreshedBuildCtes,
              |${Extended68.pqAdcServeTailSql("vec_id % 10 != 9")}""".stripMargin)),

    // ----- q330: index health monitor over the refreshed inverted file --
    // BOTH maintenance triggers in one rollup (partition + file-identity
    // metadata only, no data pages). REBUILD: the quantizer is frozen at
    // build time, so deltas that drift from the training distribution
    // surface ONLY in the cell histogram — imbalance_r (max/mean cell
    // load) is what a deployment alerts on to schedule retrain+reassign;
    // pair_sum doubles as the exact-SemDeDup recurring-volume estimate
    // serveSemDedup sizes its shuffle from. COMPACT: files accumulate one
    // per touched cell per refresh — max_files_per_cell and the
    // compact_due policy bit (threshold 4 = tolerate four refreshes)
    // drive IvfIndex.compact. The oracle PREDICTS the file counts from
    // the write discipline the layout specs pin (build: one file per
    // cell with any old row; the one refresh: one more per cell with any
    // delta row — count(DISTINCT cid%10=9) counts exactly those one-or-
    // two writer phases per cell), so a build/refresh that fragmented a
    // cell into tasks×files — the round-14 small-files defect — is a
    // hash mismatch here, not just a spec failure.
    QueryDef(
      "q330_ivf_cell_stats",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(life = Refreshed))
        IvfIndex.cellStats(s, ix)
      },
      Some(s"""WITH $refreshedBuildCtes,
              |h AS (SELECT cent_id, count(*) AS m,
              |        count(DISTINCT cid % 10 = 9) AS nf
              |      FROM a3 GROUP BY cent_id)
              |SELECT CAST(count(*) AS BIGINT) AS n_cells,
              |       CAST(sum(m) AS BIGINT) AS n_vecs,
              |       CAST(max(m) AS BIGINT) AS max_load,
              |       CAST(sum(m * (m - 1) // 2) AS BIGINT) AS pair_sum,
              |       ${Num.roundSql("CAST(sum(m) AS DOUBLE) / count(*)", 4)} AS avg_load_r,
              |       ${Num.roundSql("CAST(max(m) AS DOUBLE) / (CAST(sum(m) AS DOUBLE) / count(*))", 4)} AS imbalance_r,
              |       CAST(sum(nf) AS BIGINT) AS n_files,
              |       CAST(max(nf) AS BIGINT) AS max_files_per_cell,
              |       max(nf) > 4 AS compact_due
              |FROM h""".stripMargin)),

    // ----- q331: INCREMENTAL SemDeDup from the maintained pair artifact -
    // q327 isolated SemDeDup's recurring term but still re-scans every
    // within-cell pair per run — the N^1.5 floor. With the pair artifact
    // (buildPairs at build; refresh appends ONLY delta-touching pairs,
    // O(ΔN × cellLoad)), the recurring plan is CC + keeper over the
    // accumulated duplicate graph: no pair scan, no superlinear term left
    // anywhere in the steady state. The oracle recomputes from-scratch
    // SemDeDup on the union corpus against the old-trained quantizer —
    // a maintenance path that missed a delta-delta pair, double-counted
    // a delta-old pair, or paired across the append boundary
    // hash-mismatches at every SF.
    QueryDef(
      "q331_semdedup_incremental",
      (s, dir) => {
        val ix = IvfIndex.Cache.indexFor(s, dir, Recipe(life = Refreshed))
        IvfIndex
          .serveSemDedupFromPairs(s, ix, tbl(s, dir, "embeddings"), "vec_id")
          .orderBy("id")
      },
      Some(s"""WITH RECURSIVE $refreshedBuildCtes,
              |${Extended68.semDedupTailSql("a3")}""".stripMargin))
  )
}

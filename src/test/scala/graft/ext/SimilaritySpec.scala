package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(2.0f, 0.0f, 0.0f), 0), // same direction as 0
    (2L, Array(0.0f, 1.0f, 0.0f), 0), // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f), 1) // opposite
  ).toDF("vec_id", "embedding", "label")

  test("cosine: colinear=1, orthogonal=0, opposite=-1") {
    val a = Similarity.toDouble(array(lit(1.0f), lit(0.0f)))
    def cos(bx: Float, by: Float): Double =
      spark.range(1)
        .select(Similarity.cosine(a, Similarity.toDouble(array(lit(bx), lit(by)))).as("c"))
        .head().getDouble(0)
    assert(cos(3.0f, 0.0f) == 1.0)
    assert(cos(0.0f, 2.0f) == 0.0)
    assert(cos(-1.0f, 0.0f) == -1.0)
  }

  test("bruteForceTopK ranks by cosine, excludes self, breaks ties by id") {
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 3)
      .orderBy("rn").collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(top.map(_._1).toSeq == Seq(1L, 2L, 3L)) // cos: 1.0, 0.0, -1.0
  }

  test("IVF: exhaustive probe ≡ brute force; partial probe trades recall") {
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val q = emb.filter($"vec_id" < 10)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // stride 50 over 500 vectors → 10 cells; probing all 10 must recover
    // brute force exactly (IVF correctness), partial probe is the
    // recall/latency dial (random 64-dim data clusters poorly — bound is
    // intentionally loose)
    val full = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 50, 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == bf)
    val partial = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 50, 3)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect partial).size.toDouble / bf.size
    assert(recall >= 0.3, s"IVF partial recall $recall")
  }

  test("Lloyd-trained centroids: recall at same probe budget ≥ raw-seed baseline") {
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val q = emb.filter($"vec_id" < 10)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(iters: Int): Double = {
      val got = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 50, 3, iters)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (bf intersect got).size.toDouble / bf.size
    }
    val (raw, trained) = (recallOf(0), recallOf(2))
    // training tightens cells around the actual data distribution; at
    // worst it must not LOSE recall at the same probe budget (random
    // 64-dim fixtures cluster weakly, so equality is acceptable)
    assert(trained >= raw, s"trained recall $trained < raw-seed recall $raw")
    // exhaustive probe over trained cells still ≡ brute force (cell count
    // can only shrink via empty-cell dropout, so 10 covers all)
    val full = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 50, 10, 2)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == bf)
  }

  test("nearDupPairs only scores same-block pairs") {
    val pairs = Similarity.nearDupPairs(vecs, "vec_id", "embedding", "label", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L))) // 0-3 colinear-negative is cross-label, 0-2 below threshold
  }

  test("withinCellPairs: same-cell pairs only, a_id < b_id, kept at cos == threshold; cross form once per pair") {
    // (cid, ce, ce_n, cent_id) built by hand: 3-4-5 vectors give exact
    // cosines (24/25 = 0.96, 1.0, 0.8, 0.6)
    def rel(rows: (Long, Seq[Double], Long)*) =
      rows.map { case (id, e, cell) => (id, e, math.sqrt(e.map(x => x * x).sum), cell) }
        .toDF("cid", "ce", "ce_n", "cent_id")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val existing = rel(
      (1L, Seq(3.0, 4.0), 0L), (2L, Seq(4.0, 3.0), 0L), (3L, Seq(0.0, 1.0), 0L),
      (4L, Seq(3.0, 4.0), 1L), (5L, Seq(3.0, 4.0), 1L))
    // self form: (1,4) is cos 1 across cells and self-pairs are cos 1 —
    // neither may appear; (1,2) sits exactly at the threshold
    val self = pairs(Similarity.withinCellPairs(existing, existing, 0.96))
    assert(self.sorted == Seq((1L, 2L, 0.96), (4L, 5L, 1.0)), self)
    // cross form (a refresh delta against disjoint existing ids): delta 0
    // is the smaller id of its pairs, delta 6 the larger; each pair once
    val delta = rel((0L, Seq(4.0, 3.0), 0L), (6L, Seq(3.0, 4.0), 1L))
    val cross = pairs(Similarity.withinCellPairs(delta, existing, 0.96))
    assert(cross.sorted == Seq((0L, 1L, 0.96), (0L, 2L, 1.0), (4L, 6L, 1.0), (5L, 6L, 1.0)), cross)
  }

  test("semanticDedup: same-cell colinear vectors collapse; distinct directions survive") {
    // stride=2 seeds centroids from ids 0 and 2; vectors 0,1 are
    // colinear (cos 1) and land in cell 0 → one cluster keeping id 0;
    // 2 (orthogonal) and 3 (opposite, nearest to cell 2 at cos 0) stay
    // singletons — opposite-direction vectors must never merge
    val out = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        stride = 2, trainIters = 0, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out == Map(
      0L -> (0L, true), 1L -> (0L, false), 2L -> (2L, true), 3L -> (3L, true)))
  }

  test("bruteForceTopK rejects an oversized query side with a typed error (no silent OOM)") {
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", 2, maxQueries = 3)
    }
    assert(e.getMessage.contains("maxQueries"))
    assert(e.getMessage.contains("ivfTopK")) // error points at the scale path
  }
}

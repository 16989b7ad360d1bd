package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Round-16 part 2: the RESIDUAL-coded index's lifecycle mechanics. The
  * q338/q339 oracles pin the serve-level identities; these tests pin the
  * artifact-level facts the relation gates can't see — which SPACE the
  * refreshed delta codes live in, the codebook's residual flag
  * surviving a rebuild, and the cross-layout serve/rebuild refusals.
  */
class Extended72Spec extends SparkSuite {

  private val nSub = IvfIndex.Cache.nSubHi
  private val subDim = IvfIndex.Cache.subDimHi
  private val nCw = IvfIndex.Cache.nCodewordsHi

  private def smallSplit(bound: Int) = {
    val emb = graft.Tables.load(spark, sf0001, "embeddings").filter(col("vec_id") < bound)
    val old = emb.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 9)
    (emb, old, delta)
  }

  /** The battery's derived-parameter residual build
    * (`IvfIndex.Cache.Recipe(HiRes, residual = true)`) on an explicit
    * corpus — the exact parameterization rebuild re-derives.
    */
  private def buildResidualDerived(corpus: org.apache.spark.sql.DataFrame,
      n: Long, dir: String): Unit = {
    val stride = Similarity.sqrtStride(n)
    val trainStride = math.max(1L, n / (4L * stride))
    IvfIndex.buildResidual(corpus, "vec_id", "embedding",
      stride = stride, trainIters = 1,
      trainOn = Some(corpus.filter(pmod(col("vec_id"), lit(trainStride)) === 0)),
      nSub = nSub, subDim = subDim,
      codeStride = math.max(1L, n / nCw), outDir = dir)
  }

  private def contentEqual(aDir: String, bDir: String): Unit = {
    val a = spark.read.parquet(aDir)
    val b = spark.read.parquet(bDir).select(a.columns.map(col).toIndexedSeq: _*)
    assert(a.count() == b.count(), s"$aDir vs $bDir: row counts differ")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$aDir vs $bDir: content differs")
  }

  test("refresh on a residual index encodes the delta's RESIDUALS against the persisted codebook") {
    val (_, old, delta) = smallSplit(400)
    val dir = java.nio.file.Files.createTempDirectory("graft_res_rf").toString
    try {
      buildResidualDerived(old, old.count(), dir)
      assert(IvfIndex.isResidual(dir))
      IvfIndex.refresh(spark, dir, delta, "vec_id", "embedding", nSub, subDim)
      assert(IvfIndex.isResidual(dir), "refresh must not disturb the sidecar")

      // expected delta codes: residual against the PERSISTED centroids
      // (nearest by cosine), encoded against the PERSISTED codebook —
      // exactly buildResidual's per-row math
      val cent = spark.read.parquet(s"$dir/centroids")
      val cb = spark.read.parquet(s"$dir/codebook")
        .select(col("code_id"), col("cbe").as("ce"))
      val d = Similarity.normalizedRel(delta, "vec_id", "embedding", "cid", "ce")
      val res = Similarity.assignToCells(d, cent)
        .join(broadcast(cent.select(col("cent_id"), col("cent_e"))), "cent_id")
        .select(col("cid").as("vid"),
          zip_with(col("ce"), col("cent_e"), (a, b) => a - b).as("ve"))
      val expected = Similarity.pqEncodeAgainst(res, cb, nSub, subDim).drop("recon")

      val codeCols = (0 until nSub).map(i => s"code_$i")
      val got = spark.read.parquet(s"$dir/invfile")
        .filter(pmod(col("cid"), lit(10)) === 9)
        .select((col("cid").as("vid") +: codeCols.map(col)).toIndexedSeq: _*)
      val exp = expected.select((col("vid") +: codeCols.map(col)).toIndexedSeq: _*)
      assert(got.count() == exp.count() && got.count() > 0)
      assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
        "delta codes differ from the residual encode")

      // teeth: the RAW encode (the build-index branch) must actually
      // differ on this fixture — otherwise this pin can't catch the bug
      // it exists for (raw delta vectors encoded against the
      // residual-space codebook)
      val raw = delta.select(col("vec_id").as("vid"),
        Similarity.toDouble(col("embedding")).as("ve"))
      val rawCodes = Similarity.pqEncodeAgainst(raw, cb, nSub, subDim).drop("recon")
        .select((col("vid") +: codeCols.map(col)).toIndexedSeq: _*)
      assert(!rawCodes.exceptAll(exp).isEmpty,
        "fixture degenerate: raw and residual encodes coincide")
    } finally graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(dir))
  }

  test("rebuild on a residual index stages through buildResidual: equals a fresh residual build, artifact for artifact") {
    val (emb, old, delta) = smallSplit(400)
    val lifecycle = java.nio.file.Files.createTempDirectory("graft_res_rb").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft_res_fb").toString
    try {
      buildResidualDerived(old, old.count(), lifecycle)
      IvfIndex.refresh(spark, lifecycle, delta, "vec_id", "embedding", nSub, subDim)
      IvfIndex.rebuild(spark, lifecycle, nSub, subDim, nCodewords = nCw)
      assert(IvfIndex.isResidual(lifecycle), "rebuild must keep the sidecar honest")
      buildResidualDerived(emb, emb.count(), fresh)
      for (c <- Seq("centroids", "codebook", "invfile"))
        contentEqual(s"$lifecycle/$c", s"$fresh/$c")
    } finally {
      graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(lifecycle))
      graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(fresh))
    }
  }

  test("cross-layout refusals: raw ADC serve on a residual index, trained-codebook rebuild of one") {
    val (_, old, _) = smallSplit(200)
    val dir = java.nio.file.Files.createTempDirectory("graft_res_guard").toString
    try {
      buildResidualDerived(old, old.count(), dir)
      val q = old.filter(col("vec_id") < 10)
      val e1 = intercept[IllegalArgumentException] {
        IvfIndex.servePqTopK(spark, dir, q, "vec_id", "embedding",
          k = 5, nSub = nSub, subDim = subDim, nProbe = 3)
      }
      assert(e1.getMessage.contains("servePqResidualTopK"))
      val e2 = intercept[IllegalArgumentException] {
        IvfIndex.rebuild(spark, dir, nSub, subDim, nCodewords = nCw, cbTrain = true)
      }
      assert(e2.getMessage.contains("buildResidual has no"))
    } finally graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(dir))
  }
}

package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Round-16 part 2: the RESIDUAL-coded index's lifecycle mechanics. The
  * q338/q339 oracles pin the serve-level identities; these tests pin the
  * artifact-level facts the relation gates can't see — which SPACE the
  * refreshed delta codes live in, the codebook's residual flag
  * surviving a rebuild, the one ADC serve's residual score against a
  * driver-side recomputation, the trained-codebook rebuild refusal, and
  * the Spark job budget of every index operation on either layout.
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

  /** `body`'s result, after asserting it started at most `budget` Spark
    * jobs — the count the operation started when the two layouts had
    * separate writers and serves.
    */
  private def withinJobs[T](op: String, budget: Int)(body: => T): T = {
    val (result, jobs) = jobsIn(body)
    info(s"$op: $jobs jobs")
    assert(jobs <= budget, s"$op started $jobs Spark jobs, over its budget of $budget")
    result
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
      withinJobs("refresh residual", 13)(
        IvfIndex.refresh(spark, dir, delta, "vec_id", "embedding", nSub, subDim))
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
      withinJobs("rebuild residual", 25)(
        IvfIndex.rebuild(spark, lifecycle, nSub, subDim, nCodewords = nCw))
      assert(IvfIndex.isResidual(lifecycle), "rebuild must keep the sidecar honest")
      buildResidualDerived(emb, emb.count(), fresh)
      for (c <- Seq("centroids", "codebook", "invfile"))
        contentEqual(s"$lifecycle/$c", s"$fresh/$c")
    } finally {
      graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(lifecycle))
      graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(fresh))
    }
  }

  test("residual servePqTopK equals a driver-side scalar ADC over the collected artifacts; trained-codebook rebuild refused") {
    val (_, old, _) = smallSplit(200)
    val dir = java.nio.file.Files.createTempDirectory("graft_res_guard").toString
    try {
      buildResidualDerived(old, old.count(), dir)
      val (k, nProbe) = (5, 3)
      val q = old.filter(col("vec_id") < 10)
      val got = withinJobs("servePqTopK residual", 20)(
        IvfIndex.servePqTopK(spark, dir, q, "vec_id", "embedding",
          k = k, nSub = nSub, subDim = subDim, nProbe = nProbe)
          .select("qid", "cid", "rn", "adc").collect())
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

      // the same score from the collected artifacts alone: ascending-index
      // dot folds, the probe's (cos desc, cent_id asc) rule, the centroid
      // dot plus the DECIMAL(38,18) sum of the LUT terms, then the
      // (adc desc, cid asc) tie-break
      def dotOf(a: Seq[Double], b: Seq[Double]): Double =
        a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      def dec(v: Double) = BigDecimal(v).setScale(18, BigDecimal.RoundingMode.HALF_UP)
      def sliceOf(v: Seq[Double], s: Int) = v.slice(s * subDim, (s + 1) * subDim)
      def vec(r: org.apache.spark.sql.Row, c: String): Seq[Double] =
        r.getAs[scala.collection.Seq[Number]](c).map(_.doubleValue).toIndexedSeq
      val cent = spark.read.parquet(s"$dir/centroids").collect()
        .map(r => (r.getAs[Long]("cent_id"), vec(r, "cent_e"),
          r.getAs[Double]("cent_e_n")))
      val cb = spark.read.parquet(s"$dir/codebook").collect()
        .map(r => r.getAs[Long]("code_id") -> vec(r, "cbe")).toMap
      val inv = spark.read.parquet(s"$dir/invfile").collect()
        .map(r => (r.getAs[Long]("cid"), r.getAs[Number]("cent_id").longValue,
          (0 until nSub).map(i => r.getAs[Long](s"code_$i"))))
      val queries = q.collect()
        .map(r => r.getAs[Long]("vec_id") -> vec(r, "embedding"))
      val expected = queries.flatMap { case (qid, qe) =>
        val qn = math.sqrt(dotOf(qe, qe))
        val probed = cent.map { case (id, ce, cn) => (id, ce, dotOf(qe, ce) / (qn * cn)) }
          .sortBy { case (id, _, cos) => (-cos, id) }.take(nProbe)
          .map { case (id, ce, _) => id -> dotOf(qe, ce) }.toMap
        inv.collect { case (cid, cell, codes) if probed.contains(cell) && cid != qid =>
          val lut = codes.zipWithIndex.map { case (code, s) =>
            dec(dotOf(sliceOf(qe, s), sliceOf(cb(code), s))) }
          (cid, lut.sum.toDouble + probed(cell))
        }.sortBy { case (cid, adc) => (-adc, cid) }.take(k)
          .zipWithIndex.map { case ((cid, adc), i) => (qid, cid, i + 1L, adc) }
      }.toSet
      assert(expected.size == queries.length * k)
      assert(got == expected, s"served ${(got diff expected).take(5)} vs scalar ${(expected diff got).take(5)}")

      val e = intercept[IllegalArgumentException] {
        IvfIndex.rebuild(spark, dir, nSub, subDim, nCodewords = nCw, cbTrain = true)
      }
      assert(e.getMessage.contains("buildResidual has no"))
    } finally graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(dir))
  }

  test("job budgets: every build variant, refresh with and without pairs, raw rebuild and serve") {
    // the residual layout's refresh, rebuild and serve budgets ride on
    // the tests above, which already run those operations
    val (_, old, delta) = smallSplit(200)
    val (delta1, delta2) =
      (delta.filter(pmod(col("vec_id"), lit(20)) === 9), delta.filter(pmod(col("vec_id"), lit(20)) === 19))
    val n = old.count()
    val stride = Similarity.sqrtStride(n)
    val sample = old.filter(pmod(col("vec_id"), lit(math.max(1L, n / (4L * stride)))) === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_ix_jobs")
    val Seq(raw, trained, res) = Seq("raw", "trained", "res").map(root.resolve(_).toString)
    def build(dir: String, cbTrainOn: Option[org.apache.spark.sql.DataFrame]): Unit =
      IvfIndex.build(old, "vec_id", "embedding", stride = stride, trainIters = 1,
        trainOn = Some(sample), nSub = nSub, subDim = subDim,
        codeStride = math.max(1L, n / nCw), outDir = dir, cbTrainOn = cbTrainOn)
    def refresh(dir: String, d: org.apache.spark.sql.DataFrame, th: Option[Double]): Unit =
      IvfIndex.refresh(spark, dir, d, "vec_id", "embedding", nSub, subDim, th)
    val th = 0.4
    try {
      withinJobs("build", 16)(build(raw, None))
      withinJobs("build(cbTrainOn)", 22)(build(trained, Some(sample)))
      withinJobs("buildResidual", 19)(buildResidualDerived(old, n, res))
      withinJobs("refresh raw", 10)(refresh(raw, delta1, None))
      IvfIndex.buildPairs(spark, raw, th)
      withinJobs("refresh raw + pairs", 18)(refresh(raw, delta2, Some(th)))
      IvfIndex.buildPairs(spark, res, th)
      withinJobs("refresh residual + pairs", 19)(refresh(res, delta2, Some(th)))
      withinJobs("rebuild raw", 30)(IvfIndex.rebuild(spark, raw, nSub, subDim, nCodewords = nCw))
      withinJobs("servePqTopK raw", 16)(
        IvfIndex.servePqTopK(spark, raw, old.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nSub = nSub, subDim = subDim, nProbe = 3).collect())
    } finally graft.queries.QueryDef.rmTree(root)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.ext.{IvfIndex, Similarity}

/** The recall dial, measured on data that HAS clusters. The round-13
  * recall curve ran on the driver's random 64-dim fixture, which clusters
  * poorly by construction — recall@5 at nProbe=3 was 0.31 and said
  * nothing about the index. On a clustered fixture (the regime embedding
  * models actually produce, and the one an IVF recall claim is about) the
  * trained quantizer must recover the structure: this pins the threshold
  * a user can rely on. BENCH_SF1.md records the full curve measured on a
  * larger clustered fixture.
  */
class RecallSpec extends SparkSuite {

  test("clustered fixture: persisted-index recall@5 ≥ 0.9 at nProbe=3 of 64 cells; exhaustive probe = 1.0") {
    val root = java.nio.file.Files.createTempDirectory("graft_recall")
    try {
      // 4096 vectors in 64 ground-truth clusters = the √N cell-count rule
      // exactly; noise 0.05 ≪ 1 keeps neighbors unambiguous
      GenClustered.run(spark, root.toString, 4096, 64, 64, 0.05)
      val emb = spark.read.parquet(s"$root/embeddings.parquet")
      val stride = Similarity.sqrtStride(4096) // 64
      val trainStride = math.max(1L, 4096L / (4L * stride))
      val ix = root.resolve("ix").toString
      IvfIndex.build(emb, "vec_id", "embedding",
        stride = stride, trainIters = 1,
        trainOn = Some(emb.filter(pmod(col("vec_id"), lit(trainStride)) === 0)),
        nSub = IvfIndex.Cache.nSub, subDim = IvfIndex.Cache.subDim,
        codeStride = 64L, outDir = ix)
      val q = emb.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallAt(nProbe: Int): Double = {
        val got = IvfIndex
          .serveTopK(spark, ix, q, "vec_id", "embedding", k = 5, nProbe = nProbe)
          .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (exact intersect got).size.toDouble / exact.size
      }
      val r3 = recallAt(3)
      info(f"clustered recall@5: nProbe=3 -> $r3%.3f")
      assert(r3 >= 0.9,
        f"recall@5 at nProbe=3 on clustered data is $r3%.3f < 0.9 — the quantizer failed to recover planted structure")
      val nCells = spark.read.parquet(s"$ix/centroids").count().toInt
      assert(recallAt(nCells) == 1.0, "exhaustive probing must be lossless")
    } finally graft.queries.QueryDef.rmTree(root)
  }

  test("drift → rebuild: diffuse drifted refreshes degrade delta-query recall below the gate; rebuild restores it") {
    // the measured other half of q330's monitor: the quantizer is frozen
    // at build, so an ingest batch whose distribution departs from
    // training degrades the index. Two regimes, both real: a COHERENT
    // drifted cluster (new center, tight noise) lands wholly in one old
    // cell — recall holds, cells bloat, imbalance_r fires (measured
    // 1.01 → 2.1). A DIFFUSE batch (noise 0.5: members' nearest
    // old centroid is a near-tie) SPRAYS each new cluster across many
    // cells — nProbe=3 can't cover it and delta-query recall collapses
    // while base queries stay perfect. The policy response (retrain on a
    // union sample + reassign) gives drifted clusters their own cells and
    // restores recall. BENCH_SF1.md records the full curve at 20k vectors.
    val root = java.nio.file.Files.createTempDirectory("graft_drift_spec")
    try {
      GenClustered.run(spark, root.toString + "/base", 4096, 64, 64, 0.05)
      val base = spark.read.parquet(s"$root/base/embeddings.parquet")
      def buildOn(corpus: org.apache.spark.sql.DataFrame, n: Long, out: String): Unit = {
        val stride = Similarity.sqrtStride(n)
        val trainStride = math.max(1L, n / (4L * stride))
        IvfIndex.build(corpus, "vec_id", "embedding",
          stride = stride, trainIters = 1,
          trainOn = Some(corpus.filter(pmod(col("vec_id"), lit(trainStride)) === 0)),
          nSub = IvfIndex.Cache.nSub, subDim = IvfIndex.Cache.subDim,
          codeStride = math.max(1L, n / 64), outDir = out)
      }
      val ix = s"$root/ix"
      buildOn(base, 4096, ix)
      // two drifted batches of 1024 vectors, 32 NEW clusters each (fresh
      // salt per batch), noise 0.5 — diffuse relative to the base's 0.05.
      // Degradation COMPOUNDS across drifted refreshes (the second
      // batch's true neighbors compete with the first batch's spread —
      // at 20k vectors: 0.72 after one, 0.30 after two), so the gate
      // is on the second batch's queries.
      def driftBatch(b: Int): org.apache.spark.sql.DataFrame = {
        GenClustered.run(spark, root.toString + s"/delta$b", 1024, 32, 64, 0.5,
          centerSalt = 1000L + b, idOffset = 4096L + (b - 1) * 1024L)
        val d = spark.read.parquet(s"$root/delta$b/embeddings.parquet")
        IvfIndex.refresh(spark, ix, d, "vec_id", "embedding",
          IvfIndex.Cache.nSub, IvfIndex.Cache.subDim)
        d
      }
      driftBatch(1)
      val delta = driftBatch(2)
      val union = base
        .union(spark.read.parquet(s"$root/delta1/embeddings.parquet"))
        .union(delta)
      def recallAt5(index: String, queries: org.apache.spark.sql.DataFrame): Double = {
        val exact = Similarity.bruteForceTopK(union, queries, "vec_id", "embedding", 5)
          .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val got = IvfIndex.serveTopK(spark, index, queries, "vec_id", "embedding",
            k = 5, nProbe = 3)
          .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (exact intersect got).size.toDouble / exact.size
      }
      val deltaQ = delta.filter(col("vec_id") < 4096L + 1024L + 50L)
      val baseQ = base.filter(col("vec_id") < 50)
      val (rDrifted, rBase) = (recallAt5(ix, deltaQ), recallAt5(ix, baseQ))
      val imb = IvfIndex.cellStats(spark, ix).collect().head.getAs[Double]("imbalance_r")
      info(f"after diffuse drifted refresh: delta-query recall $rDrifted%.3f, base-query recall $rBase%.3f, imbalance_r $imb%.2f")
      assert(rBase >= 0.9, "drift should not hurt base-data queries before a rebuild")
      assert(rDrifted < 0.7,
        f"diffuse drift should degrade delta-query recall well below the 0.9 gate, got $rDrifted%.3f")
      // the policy response
      val ix2 = s"$root/ix_rebuilt"
      buildOn(union, 4096 + 2 * 1024, ix2)
      val rRebuilt = recallAt5(ix2, deltaQ)
      info(f"after rebuild: delta-query recall $rRebuilt%.3f")
      assert(rRebuilt >= 0.9,
        f"rebuild (retrain + reassign) should restore delta-query recall ≥ 0.9, got $rRebuilt%.3f")
      // the same recovery through the FIRST-CLASS operator (round 16):
      // IvfIndex.rebuild retrains IN PLACE from the index's own inverted
      // file — the callable target the monitor's trigger schedules
      IvfIndex.rebuild(spark, ix, IvfIndex.Cache.nSub, IvfIndex.Cache.subDim)
      val rInPlace = recallAt5(ix, deltaQ)
      info(f"after in-place IvfIndex.rebuild: delta-query recall $rInPlace%.3f")
      assert(rInPlace >= 0.9,
        f"in-place rebuild should restore delta-query recall ≥ 0.9, got $rInPlace%.3f")
    } finally graft.queries.QueryDef.rmTree(root)
  }

  test("trained PQ codebook: reconstruction error strictly below the strided seed's; ADC recall@5 ≥ 0.9 at nProbe=3, 2×cell-load shortlist") {
    // the q332 quality claims the hash gate can't see: per-subspace Lloyd
    // training must REDUCE quantization error (k-means monotonicity — the
    // means step can only lower within-cell SSE, the reassign step only
    // lowers it further), and the two-stage ADC serve (k=20 code-scored
    // shortlist, exact-cosine rerank, top-5) must recover planted
    // structure on clustered data
    val root = java.nio.file.Files.createTempDirectory("graft_adc_recall")
    try {
      GenClustered.run(spark, root.toString, 4096, 64, 64, 0.05)
      val emb = spark.read.parquet(s"$root/embeddings.parquet")
      val stride = Similarity.sqrtStride(4096) // 64
      val trainStride = math.max(1L, 4096L / (4L * stride))
      val sample = emb.filter(pmod(col("vec_id"), lit(trainStride)) === 0)
      def buildIx(out: String, cbTrain: Option[org.apache.spark.sql.DataFrame]): Unit =
        IvfIndex.build(emb, "vec_id", "embedding",
          stride = stride, trainIters = 1, trainOn = Some(sample),
          nSub = IvfIndex.Cache.nSub, subDim = IvfIndex.Cache.subDim,
          codeStride = 64L, outDir = out, cbTrainOn = cbTrain)
      val ixS = root.resolve("ixs").toString
      val ixT = root.resolve("ixt").toString
      buildIx(ixS, None)
      buildIx(ixT, Some(sample))
      def reconOf(ix: String): Double = Similarity
        .pqEncodeWith(emb, "vec_id", "embedding",
          spark.read.parquet(s"$ix/codebook"), IvfIndex.Cache.nSub, IvfIndex.Cache.subDim)
        .agg(sum(col("recon"))).head().getDouble(0)
      val (rS, rT) = (reconOf(ixS), reconOf(ixT))
      info(f"PQ sum-sq reconstruction error: strided $rS%.1f, trained $rT%.1f (${rT / rS}%.3f)")
      assert(rT < rS,
        f"per-subspace training did not reduce reconstruction error: trained $rT%.1f vs strided $rS%.1f")
      val q = emb.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def adcPostRecall(ix: String, shortlist: Int): Double = {
        val served = IvfIndex
          .servePqTopK(spark, ix, q, "vec_id", "embedding", k = shortlist,
            nSub = IvfIndex.Cache.nSub, subDim = IvfIndex.Cache.subDim, nProbe = 3)
          .localCheckpoint(true)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid").asc)
        val got = served.withColumn("cr", row_number().over(w)).filter(col("cr") <= 5)
          .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (exact intersect got).size.toDouble / exact.size
      }
      // Shortlist sizing is THE ADC serve knob, and this fixture is its
      // worst case by construction: 64 codewords over 64 planted clusters
      // → every member of a cluster shares the query's codes exactly, so
      // the ADC ranking has NO intra-cluster resolution (64 code-tied
      // candidates, cid tie-break) and a shortlist of 20 can only cover
      // ~20/64 of the tie set (measured 0.27 — consistent with 5·20/64).
      // The production rule: rerank shortlist ≥ the code-tied candidate
      // set — here the cell load (= cluster size, 64) — with headroom for
      // members whose noise flipped a subspace assignment near a codeword
      // boundary (their ADC drops below the tie set; measured: shortlist
      // 64 → 0.82, 128 → recovers). 2× load is the measured knee.
      val cellLoad = 4096 / 64
      val adcShort = adcPostRecall(ixT, 20)
      val adcT = adcPostRecall(ixT, 2 * cellLoad)
      info(f"ADC post-rerank recall@5 at nProbe=3 (trained codebook): shortlist 20 -> $adcShort%.3f, shortlist $cellLoad -> $adcT%.3f")
      assert(adcT >= 0.9,
        f"trained-codebook ADC recall@5 is $adcT%.3f < 0.9 at nProbe=3 with a cell-load shortlist on clustered data")
      assert(adcT > adcShort,
        "cell-load shortlist should beat the under-sized shortlist on the code-tied fixture")
    } finally graft.queries.QueryDef.rmTree(root)
  }

  test("PQ resolution axis: raw-vector codes are noise-bound at ANY codebook size; RESIDUAL codes buy real pre-rerank rank resolution") {
    // The round-16 axis measurement: raw-vector PQ at 256 codewords ×
    // nSub=8 did NOT outrank the 64-codeword config (0.072 vs 0.084
    // pre-rerank recall) — on clustered data raw codes re-encode the
    // cluster CENTER all members share, so quantization error stays the
    // same magnitude as the intra-cluster spread being ranked, at any
    // practical codebook size. The lever that works is the full IVFADC
    // recipe (Jégou §IV): encode the RESIDUAL x − centroid(cell) — the
    // same bytes spent entirely on the component that distinguishes
    // neighbors. This pins all three measured facts: raw-hi-res buys
    // reconstruction error but NOT rank recall; residual coding buys
    // both.
    val root = java.nio.file.Files.createTempDirectory("graft_adc_axis")
    try {
      GenClustered.run(spark, root.toString, 4096, 64, 64, 0.05)
      val emb = spark.read.parquet(s"$root/embeddings.parquet")
      val stride = Similarity.sqrtStride(4096) // 64
      val trainStride = math.max(1L, 4096L / (4L * stride))
      val sample = emb.filter(pmod(col("vec_id"), lit(trainStride)) === 0)
      def buildIx(out: String, nSub: Int, subDim: Int, nCw: Long,
          residual: Boolean): Unit =
        if (residual)
          IvfIndex.buildResidual(emb, "vec_id", "embedding",
            stride = stride, trainIters = 1, trainOn = Some(sample),
            nSub = nSub, subDim = subDim,
            codeStride = math.max(1L, 4096L / nCw), outDir = out)
        else
          IvfIndex.build(emb, "vec_id", "embedding",
            stride = stride, trainIters = 1, trainOn = Some(sample),
            nSub = nSub, subDim = subDim,
            codeStride = math.max(1L, 4096L / nCw), outDir = out)
      val ixLo = root.resolve("lo").toString
      val ixHi = root.resolve("hi").toString
      val ixRes = root.resolve("res").toString
      buildIx(ixLo, IvfIndex.Cache.nSub, IvfIndex.Cache.subDim, 64L, residual = false)
      buildIx(ixHi, IvfIndex.Cache.nSubHi, IvfIndex.Cache.subDimHi,
        IvfIndex.Cache.nCodewordsHi.toLong, residual = false)
      buildIx(ixRes, IvfIndex.Cache.nSubHi, IvfIndex.Cache.subDimHi,
        IvfIndex.Cache.nCodewordsHi.toLong, residual = true)
      val q = emb.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def preRecall(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.select("qid", "cid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (exact intersect got).size.toDouble / exact.size
      }
      // ADC approximates the UNNORMALIZED dot — so the resolution climb
      // must be measured against the exact-DOT top-5 (its own target
      // metric). Against the COSINE ground truth, pre-rerank recall is
      // METRIC-MISMATCH-BOUND on this fixture regardless of codebook:
      // within a cluster the candidate-norm variation (~dot(center,
      // noise)/‖center‖, std ≈ 0.6% of the norm) is ~20× the cosine
      // signal (dot(noise_q, noise_c), ≈ 0.03%), so even EXACT dot
      // ranking misorders the cosine top-5 — which is exactly why the
      // production serve is two-stage (ADC prune + exact-cosine rerank)
      // at every geometry. Measured (round 16): 0.084 / 0.072 / 0.120
      // for raw64 / raw256 / residual256 vs cosine.
      import org.apache.spark.sql.expressions.Window
      val cq = emb.select(col("vec_id").as("qid"),
        graft.ext.Similarity.toDouble(col("embedding")).as("qe")).filter(col("qid") < 50)
      val cc = emb.select(col("vec_id").as("cid"),
        graft.ext.Similarity.toDouble(col("embedding")).as("ce"))
      val wD = Window.partitionBy(col("qid")).orderBy(col("d").desc, col("cid").asc)
      val exactDot = cq.crossJoin(cc).filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          graft.ext.Similarity.dot(col("qe"), col("ce")).as("d"))
        .withColumn("rn", row_number().over(wD)).filter(col("rn") <= 5)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def dotRecall(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.select("qid", "cid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (exactDot intersect got).size.toDouble / exactDot.size
      }
      def serveLo() = IvfIndex.servePqTopK(spark, ixLo, q, "vec_id", "embedding",
        k = 5, nSub = IvfIndex.Cache.nSub, subDim = IvfIndex.Cache.subDim, nProbe = 3)
      def serveHi() = IvfIndex.servePqTopK(spark, ixHi, q, "vec_id", "embedding",
        k = 5, nSub = IvfIndex.Cache.nSubHi, subDim = IvfIndex.Cache.subDimHi, nProbe = 3)
      def serveRes() = IvfIndex.servePqTopK(spark, ixRes, q, "vec_id", "embedding",
        k = 5, nSub = IvfIndex.Cache.nSubHi, subDim = IvfIndex.Cache.subDimHi, nProbe = 3)
      val (preLo, preHi, preRes) =
        (preRecall(serveLo()), preRecall(serveHi()), preRecall(serveRes()))
      val (dLo, dHi, dRes) =
        (dotRecall(serveLo()), dotRecall(serveHi()), dotRecall(serveRes()))
      info(f"pre-rerank ADC recall@5 vs COSINE top-5: raw64 $preLo%.3f, raw256 $preHi%.3f, RESIDUAL256 $preRes%.3f (metric-mismatch-bound)")
      info(f"pre-rerank ADC recall@5 vs exact-DOT top-5: raw64 $dLo%.3f, raw256 $dHi%.3f, RESIDUAL256 $dRes%.3f")
      // reconstruction error: raw hi-res < raw lo-res (what extra raw
      // codes DO buy), residual ≪ raw hi-res (the recipe's whole point)
      def reconRaw(ix: String, ns: Int, sd: Int): Double = Similarity
        .pqEncodeWith(emb, "vec_id", "embedding",
          spark.read.parquet(s"$ix/codebook"), ns, sd)
        .agg(sum(col("recon"))).head().getDouble(0)
      def reconResidual(ix: String, ns: Int, sd: Int): Double = {
        val cent = spark.read.parquet(s"$ix/centroids")
          .select(col("cent_id"), col("cent_e"))
        val res = spark.read.parquet(s"$ix/invfile")
          .withColumn("cent_id", col("cent_id").cast("long"))
          .join(broadcast(cent), "cent_id")
          .select(col("cid").as("rid"),
            zip_with(col("ce"), col("cent_e"), (a, b) => a - b).as("resv"))
        Similarity.pqEncodeWith(res, "rid", "resv",
          spark.read.parquet(s"$ix/codebook"), ns, sd)
          .agg(sum(col("recon"))).head().getDouble(0)
      }
      val rLo = reconRaw(ixLo, IvfIndex.Cache.nSub, IvfIndex.Cache.subDim)
      val rHi = reconRaw(ixHi, IvfIndex.Cache.nSubHi, IvfIndex.Cache.subDimHi)
      val rRes = reconResidual(ixRes, IvfIndex.Cache.nSubHi, IvfIndex.Cache.subDimHi)
      info(f"sum-sq reconstruction error: raw64 $rLo%.1f, raw256 $rHi%.1f, residual256 $rRes%.1f")
      assert(rHi < rLo, "4x codewords + finer subspaces must reduce raw reconstruction error")
      assert(rRes < rHi, "residual coding must reconstruct tighter than raw at the same geometry")
      // on ADC's own metric, resolution must climb — measured (round 16,
      // deterministic fixture): raw64 0.000 → raw256 0.204 → residual256
      // 0.800. Pinned with headroom below the measured points.
      assert(dHi > dLo,
        f"more/finer raw codes should climb on the dot metric: $dHi%.3f vs $dLo%.3f")
      assert(dRes > math.max(dLo, dHi),
        f"residual codes should outrank both raw configs on the dot metric: $dRes%.3f vs raw $dLo%.3f/$dHi%.3f")
      assert(dRes >= 0.7,
        f"residual pre-rerank recall vs exact-dot is $dRes%.3f — the resolution lever did not engage (measured 0.800)")
      // the cosine-metric negative result stays pinned: if this ever
      // rises above the mismatch bound, the analysis above is stale
      assert(math.max(preLo, math.max(preHi, preRes)) < 0.35,
        "cosine-metric pre-rerank recall escaped the metric-mismatch bound — re-derive the analysis")
      assert(preRes > math.max(preLo, preHi),
        f"residual codes should still edge out raw configs vs cosine: $preRes%.3f vs $preLo%.3f/$preHi%.3f")
    } finally graft.queries.QueryDef.rmTree(root)
  }
}

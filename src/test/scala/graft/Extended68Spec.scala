package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** q324 (persisted IVF serve), q325 (sampled-train SemDeDup), q326
  * (persisted IVF+PQ ADC serve), q327 (persisted-assignment SemDeDup).
  */
class Extended68Spec extends SparkSuite {

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    planNodes(df.queryExecution.executedPlan).collect { case f: FileSourceScanExec => f }

  test("q324: persisted serve ≡ the lazy sampled-train ivfTopK, row for row") {
    val got = SparkEntry.queries("q324_ivf_persisted_serve")(spark, sf0001)
    val emb = Tables.load(spark, sf0001, "embeddings")
    val n = Tables.cachedCount(spark, sf0001, "embeddings")
    val stride = graft.ext.Similarity.sqrtStride(n)
    val trainStride = math.max(1L, n / (4L * stride))
    val want = graft.ext.Similarity
      .ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, stride = stride, nProbe = 3, trainIters = 1,
        trainOn = Some(emb.filter(pmod(col("vec_id"), lit(trainStride)) === 0)))
      .select(col("qid"), col("rn"), col("cid").as("wcid"),
        graft.ops.Num.roundTo(col("cos"), 4).as("wcos"))
    val diverged = got.join(want, Seq("qid", "rn"), "full")
      .filter(!(col("cid") <=> col("wcid")) || !(col("cos_r") <=> col("wcos")))
      .count()
    assert(diverged == 0L, "persisted-index serve diverged from the lazy pipeline")
  }

  test("q324 plan: candidate scan is partition-pruned; the corpus table is read ONLY on the filtered query side") {
    val df = SparkEntry.queries("q324_ivf_persisted_serve")(spark, sf0001)
    val all = scans(df)
    val inv = all.filter(_.relation.location.rootPaths.exists(_.toString.contains("invfile")))
    assert(inv.nonEmpty, "no inverted-file scan in the serve plan")
    inv.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"inverted-file scan is NOT partition-pruned:\n${f.treeString.take(1500)}")
    }
    // the serve path must never scan the corpus table unfiltered: every
    // embeddings.parquet scan is the bounded query side (vec_id < 10
    // reaches the parquet reader as a pushed filter)
    val corpus = all.filter(_.relation.location.rootPaths.exists(_.toString.contains("embeddings.parquet")))
    assert(corpus.nonEmpty)
    corpus.foreach { f =>
      assert(f.dataFilters.exists(_.toString.contains("< 10")),
        s"a corpus scan without the query-side bound in the SERVE plan:\n${f.treeString.take(1500)}")
    }
  }

  test("q325: trainOn=Some(full corpus) reproduces the default full-corpus training exactly") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val stride = graft.ext.Similarity.sqrtStride(Tables.cachedCount(spark, sf0001, "embeddings"))
    def table(trainOn: Option[org.apache.spark.sql.DataFrame]) = graft.ext.Similarity
      .semanticDedup(emb, "vec_id", "embedding",
        stride = stride, trainIters = 1, threshold = 0.4, trainOn = trainOn)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(table(Some(emb)) == table(None),
      "trainOn plumbing changed the decision table when the sample IS the corpus")
  }

  test("q325: keepers are exactly the min-id representative per cluster; every id appears once") {
    val rows = SparkEntry.queries("q325_semdedup_sampled")(spark, sf0001).collect()
    assert(rows.length == Tables.cachedCount(spark, sf0001, "embeddings"))
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cl, members) =>
      val keepers = members.filter(_.getBoolean(2)).map(_.getLong(0))
      assert(keepers.toSeq == Seq(members.map(_.getLong(0)).min),
        s"cluster $cl keeper set ${keepers.mkString(",")} != min id")
      assert(cl == members.map(_.getLong(0)).min, s"cluster id $cl is not its min member")
    }
  }

  test("q326: rerank cosine equals the exact pair cosine; rn dense 1..5") {
    val got = SparkEntry.queries("q326_ivfpq_persisted_serve")(spark, sf0001)
    got.cache()
    try {
      val perQ = got.groupBy(col("qid"))
        .agg(count(lit(1)).as("n"), max(col("rn")).as("mx"), min(col("rn")).as("mn"))
      assert(perQ.filter(col("n") =!= 5 || col("mx") =!= 5L || col("mn") =!= 1L).count() == 0L,
        "some query did not produce a dense top-5")
      val emb = Tables.load(spark, sf0001, "embeddings")
      val exact = graft.ext.Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = Int.MaxValue)
        .select(col("qid"), col("cid"), graft.ops.Num.roundTo(col("cos"), 4).as("want"))
      val bad = got.join(exact, Seq("qid", "cid"))
        .filter(col("cos_r") =!= col("want")).count()
      assert(bad == 0L, "reranked cosine diverges from the exact pair cosine")
    } finally { got.unpersist(); () }
  }

  test("persisted index is lossless: exhaustive-probe serve ≡ brute force (the q40-spec identity, through parquet)") {
    // probing every cell makes the candidate set the whole corpus, so the
    // serve result must equal brute force EXACTLY — pins that the build
    // wrote every vector into exactly one inverted list (no drops, no
    // duplicates) and that the round-trip changed no double
    val emb = Tables.load(spark, sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val ix = graft.ext.IvfIndex.Cache.indexFor(spark, sf0001)
    val nCells = spark.read.parquet(s"$ix/centroids").count().toInt
    val served = graft.ext.IvfIndex
      .serveTopK(spark, ix, q, "vec_id", "embedding", k = 5, nProbe = nCells)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = graft.ext.Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == bf, "exhaustive-probe persisted serve diverged from brute force")
  }

  test("q327: persisted-assignment SemDeDup ≡ the lazy sampled-train decision table, row for row") {
    val got = SparkEntry.queries("q327_semdedup_persisted_serve")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val want = SparkEntry.queries("q325_semdedup_sampled")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == want, "serving SemDeDup from the persisted inverted file diverged from the lazy pipeline")
  }

  test("q326: with every vector its own codeword (codeStride=1), persisted ADC == exact dot ordering") {
    // the Extended61Spec stride-1 identity, now THROUGH the persisted
    // artifacts: build writes codes/codebook to parquet, servePqTopK
    // reads them back — exact-reconstruction PQ must still rank by the
    // true inner product
    val emb = Tables.load(spark, sf0001, "embeddings").filter(col("vec_id") < 120)
    val dir = java.nio.file.Files.createTempDirectory("graft_q326_ix")
    try {
      graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
        stride = 11, trainIters = 0, trainOn = None,
        nSub = 4, subDim = 16, codeStride = 1L, outDir = dir.toString)
      val adc = graft.ext.IvfIndex.servePqTopK(
        spark, dir.toString, emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, nSub = 4, subDim = 16, nProbe = 100)
      val v = emb.select(col("vec_id"), graft.ext.Similarity.toDouble(col("embedding")).as("e"))
      val q = v.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
      val dots = v.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          graft.ext.Similarity.dot(col("qe"), col("e")).as("dt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dt").desc, col("cid").asc)
      val want = dots.withColumn("wrn", row_number().over(w).cast("bigint"))
        .filter(col("wrn") <= 5).select(col("qid"), col("cid"), col("wrn"))
      val diverged = adc.select(col("qid"), col("cid"), col("rn"))
        .join(want, Seq("qid", "cid"), "full")
        .filter(!(col("rn") <=> col("wrn"))).count()
      assert(diverged == 0L, "stride-1 persisted ADC ranking diverged from the exact dot ranking")
    } finally graft.queries.QueryDef.rmTree(dir)
  }

  test("serveTopK refuses an oversized batch before probing") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 10) // 10 queries x nProbe 3 = 30 pairs
    val ix = graft.ext.IvfIndex.Cache.indexFor(spark, sf0001)
    val err = intercept[IllegalArgumentException] {
      graft.ext.IvfIndex.serveTopK(spark, ix, q, "vec_id", "embedding",
        k = 5, nProbe = 3, maxProbePairs = 8)
    }
    // the pre-probe guard (query count vs maxProbePairs / nProbe = 2), not
    // the post-collect invariant
    assert(err.getMessage.contains(">2 query vectors x nProbe=3 exceeds maxProbePairs=8"),
      s"oversized batch should fail the pre-probe guard: ${err.getMessage}")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.ext.{IvfIndex, Similarity}

/** Round-16 lifecycle surface: [[IvfIndex.rebuild]] (q335/q336's
  * operator), crash recovery of its and compact's commits, the pairs
  * threshold guard, and the GenClustered stamp guard. The DuckDB oracles pin
  * the serve-level identities at sf0.01/sf0.1; these tests pin the
  * artifact- and failure-path mechanics the relation gates can't see.
  */
class Extended71Spec extends SparkSuite {

  private val nSub = IvfIndex.Cache.nSub
  private val subDim = IvfIndex.Cache.subDim

  private def smallSplit(bound: Int) = {
    val emb = Tables.load(spark, sf0001, "embeddings").filter(col("vec_id") < bound)
    val old = emb.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 9)
    (emb, old, delta)
  }

  /** The battery's derived-parameter build (indexFor's recipe) on an
    * explicit corpus — the exact parameterization [[IvfIndex.rebuild]]
    * re-derives, so a fresh build through this must equal a rebuild.
    */
  private def buildDerived(corpus: org.apache.spark.sql.DataFrame, n: Long,
      dir: String): Unit = {
    val stride = Similarity.sqrtStride(n)
    val trainStride = math.max(1L, n / (4L * stride))
    IvfIndex.build(corpus, "vec_id", "embedding",
      stride = stride, trainIters = 1,
      trainOn = Some(corpus.filter(pmod(col("vec_id"), lit(trainStride)) === 0)),
      nSub = nSub, subDim = subDim,
      codeStride = math.max(1L, n / 64), outDir = dir)
  }

  private def contentEqual(aDir: String, bDir: String): Unit = {
    val a = spark.read.parquet(aDir)
    val b = spark.read.parquet(bDir).select(a.columns.map(col).toIndexedSeq: _*)
    assert(a.count() == b.count(), s"$aDir vs $bDir: row counts differ")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$aDir vs $bDir: content differs")
  }

  test("rebuild after build+refresh equals a fresh build on the accumulated corpus, artifact for artifact") {
    val (emb, old, delta) = smallSplit(400)
    val lifecycle = java.nio.file.Files.createTempDirectory("graft_rb_life").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft_rb_fresh").toString
    try {
      // a crash after any step of any of these commits recovers to the
      // index before that commit or after it
      everyCrashRecovers(lifecycle)(buildDerived(old, old.count(), lifecycle))
      everyCrashRecovers(lifecycle)(IvfIndex.buildPairs(spark, lifecycle, 0.4))
      everyCrashRecovers(lifecycle)(IvfIndex.refresh(spark, lifecycle, delta, "vec_id",
        "embedding", nSub, subDim, pairThreshold = Some(0.4)))
      everyCrashRecovers(lifecycle)(IvfIndex.rebuild(spark, lifecycle, nSub, subDim))
      buildDerived(emb, emb.count(), fresh)
      IvfIndex.buildPairs(spark, fresh, 0.4)
      for (c <- Seq("centroids", "codebook", "invfile", "pairs"))
        contentEqual(s"$lifecycle/$c", s"$fresh/$c")
      // no journal, staging or checksum residue after a clean rebuild
      assert(entries(lifecycle) == Seq("centroids", "codebook", "invfile", "pairs"),
        s"rebuild left residue: ${entries(lifecycle).mkString(",")}")
      // the rebuilt pairs sidecar carries the baked threshold forward
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$lifecycle/pairs/_THRESHOLD")), "UTF-8").trim == "0.4")
    } finally {
      graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(lifecycle))
      graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(fresh))
    }
  }

  test("recover() restores an interrupted swap at either crash point; serve entry points self-heal") {
    val (emb, _, _) = smallSplit(300)
    val dir = java.nio.file.Files.createTempDirectory("graft_rb_crash").toString
    try {
      buildDerived(emb, emb.count(), dir)
      val q = emb.filter(col("vec_id") < 5)
      def serveSet() = IvfIndex
        .serveTopK(spark, dir, q, "vec_id", "embedding", k = 3, nProbe = 2)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val before = serveSet()
      val live = snapshot(dir)

      // compact, stopped with its inverted file moved in and the journal
      // still present: a serve entry point rolls it back on its own
      stoppedAt("moved invfile")(IvfIndex.compact(spark, dir))
      assert(entries(dir).contains("_journal"))
      assert(serveSet() == before)
      assert(snapshot(dir) == live)

      // rebuild, stopped between retiring the live centroids and moving
      // the new ones in: no centroids/ at all until recover
      stoppedAt("retired centroids")(IvfIndex.rebuild(spark, dir, nSub, subDim))
      assert(!entries(dir).contains("centroids"))
      assert(graft.ops.Publish.recover(spark, dir))
      assert(snapshot(dir) == live)
      assert(serveSet() == before)

      // healthy index: recover is a no-op
      assert(!graft.ops.Publish.recover(spark, dir))
      // a crash after any step of a compact recovers to either side
      everyCrashRecovers(dir)(IvfIndex.compact(spark, dir))
    } finally graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(dir))
  }

  test("a pairs/ without its _THRESHOLD fails fast on a pair-maintaining refresh") {
    val (_, old, delta) = smallSplit(300)
    val dir = java.nio.file.Files.createTempDirectory("graft_rb_adopt").toString
    try {
      buildDerived(old, old.count(), dir)
      IvfIndex.buildPairs(spark, dir, 0.4)
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/pairs/_THRESHOLD"))
      val before = snapshot(dir)
      val e = intercept[RuntimeException] {
        IvfIndex.refresh(spark, dir, delta, "vec_id", "embedding", nSub, subDim,
          pairThreshold = Some(0.4))
      }
      assert(e.getMessage.contains("run buildPairs"), e.getMessage)
      assert(snapshot(dir) == before, "a refused refresh changed the index")
    } finally graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(dir))
  }

  test("GenClustered skips on a matching stamp, regenerates on mismatch, and consumers refuse stale versions") {
    val dst = java.nio.file.Files.createTempDirectory("graft_gc_stamp").toString
    try {
      GenClustered.run(spark, dst, 200, 14, 16, 0.05)
      val fixture = java.nio.file.Paths.get(s"$dst/embeddings.parquet")
      val t1 = java.nio.file.Files.getLastModifiedTime(fixture)
      GenClustered.run(spark, dst, 200, 14, 16, 0.05) // identical params → skip
      assert(java.nio.file.Files.getLastModifiedTime(fixture) == t1,
        "matching stamp must skip regeneration")
      GenClustered.requireCurrentVersion(dst) // current stamp passes
      // a stale (v1) stamp: consumers refuse it, run() regenerates over it
      val stamp = java.nio.file.Paths.get(s"$dst/CLUSTERED_VERSION")
      java.nio.file.Files.write(stamp,
        "graft GenClustered v1 n=200 k=14 dim=16 noise=0.05 salt=1 off=0\n".getBytes("UTF-8"))
      intercept[IllegalArgumentException] { GenClustered.requireCurrentVersion(dst) }
      GenClustered.run(spark, dst, 200, 14, 16, 0.05)
      assert(new String(java.nio.file.Files.readAllBytes(stamp), "UTF-8")
        .startsWith(s"graft GenClustered v${GenClustered.generatorVersion} "),
        "mismatched stamp must regenerate and restamp")
      GenClustered.requireCurrentVersion(dst)
    } finally graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(dst))
  }
}

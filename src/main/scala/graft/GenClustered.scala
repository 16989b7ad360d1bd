package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builder-side CLUSTERED embeddings fixture: nVec vectors planted around
  * kClusters ground-truth centers. The driver's fixture is RANDOM 64-dim
  * data, which clusters poorly — the round-13 recall curve bottomed at
  * 0.31 @ nProbe=3 on it (BENCH_SF1), so the one number a user asks of an
  * ANN index ("what recall at nProbe ≪ cells?") was fixture noise, not an
  * index property. This fixture has real cluster structure: recall
  * measured on it measures the index, and RecallSpec pins a threshold.
  *
  * GENERATOR v2 (round 15). v1 drew center components as
  * `sin(cl·a + i·b)` — a LINEAR phase in (cl, i), which put every center
  * on a one-parameter circle inside a single 2-plane of R^64: centers
  * whose phases nearly coincided (every ~21 cluster ids at the old salt)
  * were near-identical vectors, so "√N planted clusters" was effectively
  * ~19 distinct directions at 20k vectors (caught round 15 when a
  * 20k-vector build reported n_cells = 19 of 141 — Lloyd collapsed the
  * redundant seeds). v2 draws every component from murmur3
  * (`hash(cl, i, salt) / 2^31` ∈ (−1, 1)) — genuinely independent per
  * (cluster, dim, salt), bit-reproducible, fully distributed, and free of
  * resonances by construction. All recall numbers published against v1
  * fixtures were re-certified on v2 (BENCH_SF1 round-15 section).
  *
  * Geometry: cluster = contiguous vec_id block (`vec_id·k / n`, integer
  * division); each point = center + noise · per-(vec_id, dim) uniform.
  * With noise ≪ 1, same-cluster cosine ≈ 1 − O(noise²) while
  * cross-cluster cosine ≈ 0 (independent 64-dim directions) —
  * unambiguous nearest neighbors, the regime real embedding models
  * produce and the one an IVF recall claim is ABOUT. Defaults:
  * kClusters = √nVec (matches the index's cell count rule, so a
  * well-trained quantizer can recover one cell ≈ one cluster), dim 64
  * (the driver fixture's), noise 0.05.
  *
  * Layout contract matches the driver fixture: ONE `embeddings.parquet`
  * file (vec_id long, embedding float[dim]) under dst, ≥32 row groups
  * (v3 — see generatorVersion).
  * A `CLUSTERED_VERSION` stamp is written LAST (completion sentinel +
  * staleness guard, the GenScale pattern) so a consumer can refuse a
  * fixture an older generator wrote.
  *
  * DRIFT mode (round 15): `centerSalt` re-seeds the center generator, so
  * a second generation with a different salt plants clusters around
  * entirely NEW centers — independent of the first set (cross-salt
  * center cosine ≈ 0). With `idOffset` the drifted batch extends the id
  * space, making it a delta a frozen-quantizer index can refresh with:
  * the regime where the training distribution no longer describes the
  * data, which is exactly what q330's imbalance_r monitor and the
  * rebuild policy exist for (RecallSpec pins the degradation and the
  * rebuild recovery).
  *
  * Usage: runMain graft.GenClustered <dstDir> <nVec> [kClusters] [dim] [noise] [centerSalt] [idOffset]
  */
object GenClustered {

  /** Bump when generation logic changes fixture bytes (v2: hash-based
    * components replacing the 2-plane sin generator; v3: source-size-aware
    * row groups targeting ≥32 per file — VALUES identical to v2, but the
    * v2 single 8 MB row group made every corpus scan a ONE-TASK stage,
    * which serialized the whole interpreted-encode stage of the round-16
    * codebook-axis sweep; the GenScale v2 lesson, applied here).
    */
  val generatorVersion = 3

  def stampContent(nVec: Long, kClusters: Int, dim: Int, noise: Double,
      centerSalt: Long, idOffset: Long): String =
    s"graft GenClustered v$generatorVersion n=$nVec k=$kClusters dim=$dim noise=$noise salt=$centerSalt off=$idOffset\n"

  def stampMatches(dst: String, nVec: Long, kClusters: Int, dim: Int,
      noise: Double, centerSalt: Long, idOffset: Long): Boolean = {
    val p = java.nio.file.Paths.get(s"$dst/CLUSTERED_VERSION")
    java.nio.file.Files.exists(p) &&
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8") ==
        stampContent(nVec, kClusters, dim, noise, centerSalt, idOffset)
  }

  /** Refuse a clustered fixture an OLDER generator wrote (ADVICE r15: the
    * stamp existed but nothing ever checked it, so a pre-v2 dir — the
    * collapsed 2-plane geometry every round-15 recall number had to be
    * re-certified away from — would be consumed silently). Call this
    * before measuring on a pre-generated dir; a dir with NO stamp is not
    * a GenClustered fixture (the random sf fixtures) and passes.
    */
  def requireCurrentVersion(dir: String): Unit = {
    val p = java.nio.file.Paths.get(s"$dir/CLUSTERED_VERSION")
    if (java.nio.file.Files.exists(p)) {
      val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      require(s.startsWith(s"graft GenClustered v$generatorVersion "),
        s"$dir holds a stale clustered fixture (stamp: ${s.trim}) — " +
          s"regenerate with GenClustered v$generatorVersion before measuring on it")
    }
  }

  def main(args: Array[String]): Unit = {
    val dst = args(0)
    val nVec = args(1).toLong
    val k = if (args.length > 2) args(2).toInt
            else graft.ext.Similarity.sqrtStride(nVec)
    val dim = if (args.length > 3) args(3).toInt else 64
    val noise = if (args.length > 4) args(4).toDouble else 0.05
    val salt = if (args.length > 5) args(5).toLong else 1L
    val offset = if (args.length > 6) args(6).toLong else 0L
    val spark = LocalSession.build()
    run(spark, dst, nVec, k, dim, noise, salt, offset)
    spark.stop()
  }

  /** Session-borrowing body, callable from tests (RecallSpec generates a
    * small clustered fixture on demand — same pattern as GenScale.run).
    */
  def run(spark: SparkSession, dst: String, nVec: Long, kClusters: Int,
      dim: Int, noise: Double, centerSalt: Long = 1L,
      idOffset: Long = 0L): Unit = {
    require(kClusters >= 1 && kClusters <= nVec,
      s"kClusters=$kClusters out of range for nVec=$nVec")
    // Skip-or-regenerate on the stamp (the GenScale/BatteryPlanSpec
    // pattern): an exact match means this generator version already wrote
    // these bytes (the stamp is written LAST, so it doubles as the
    // completion sentinel); any mismatch — including a stale v1 stamp —
    // falls through and regenerates.
    if (stampMatches(dst, nVec, kClusters, dim, noise, centerSalt, idOffset)) {
      println(s"""{"gen":"$dst","v":$generatorVersion,"skipped":"stamp matches"}""")
      return
    }
    // hash() is murmur3 over the integer args: exact, engine-versioned
    // with Spark itself, and jointly independent across (cl, i, salt) —
    // no phase structure for the quantizer to accidentally exploit or
    // collapse. / 2^31 maps the int32 to (−1, 1).
    val embs: DataFrame = spark.range(nVec).toDF("seq")
      .withColumn("vec_id", col("seq") + idOffset)
      // block id via `div` — Column./ is DOUBLE division in Spark, which
      // made v1's `cl` distinct per row: the "cluster id" was a
      // continuous phase, and with the sin generator the whole fixture
      // was a 1-D phase circle, not 64-dim clusters (v1's recall numbers
      // measured arc locality on that circle)
      .withColumn("cl", expr(s"(seq * $kClusters) div ${nVec}L"))
      .withColumn("embedding", expr(
        s"""transform(sequence(1, $dim), i ->
           |  CAST((hash(cl, i, ${centerSalt}L) / 2147483648.0d) +
           |       $noise * (hash(vec_id, i, 7L) / 2147483648.0d) AS FLOAT))""".stripMargin))
      .drop("cl", "seq")
      .select(col("vec_id"), col("embedding"))
    val tmp = s"$dst/__tmp_embeddings"
    // Row-group sizing (v3): a row group is parquet's atomic read unit —
    // one oversized group serializes every scan stage onto one task.
    // Target ≥32 groups from the raw data size (floats here are murmur3
    // noise, nearly incompressible, so raw size ≈ file size).
    val rawBytes = nVec * dim * 4L
    val block = math.max(64L * 1024, math.min(8L * 1024 * 1024, rawBytes / 32))
    GenScale.writeSingleParquet(embs, block, tmp, s"$dst/embeddings.parquet")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dst/CLUSTERED_VERSION"),
      stampContent(nVec, kClusters, dim, noise, centerSalt, idOffset).getBytes("UTF-8"))
    println(s"""{"gen":"$dst","v":$generatorVersion,"n_vec":$nVec,"k_clusters":$kClusters,"dim":$dim,"noise":$noise,"center_salt":$centerSalt,"id_offset":$idOffset}""")
  }
}

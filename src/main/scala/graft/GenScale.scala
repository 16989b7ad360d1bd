package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builder-side scale-up generator: `runMain graft.GenScale <srcDir>
  * <dstDir> [k]` replicates the driver's sf fixture k× (default 10,
  * sf0.1 → "sf1") with key-offset remapping, for empirical scale smokes
  * (BENCH_SF1.md) — the correctness battery never reads its output.
  *
  * Replication contract:
  *   - region/nation copy unchanged (fixed dims — real scale-ups hold
  *     dimension cardinality).
  *   - every entity key shifts by copy × (max key + 1), and every
  *     foreign key shifts by ITS referenced domain's base, so join
  *     fan-outs (orders per customer, lineitems per order) stay exactly
  *     the source distribution.
  *   - document text is re-lettered per copy via a SEEDED ALPHABET
  *     PERMUTATION (copy 0 = identity): length, token boundaries, and
  *     within-copy duplicate structure are preserved exactly, but copies
  *     share (statistically) NO shingles — without this, every doc gains
  *     k−1 near-verbatim twins and the dedup queries measure an
  *     artificially k×-denser duplicate graph instead of scale. A Caesar
  *     ROTATION (the pre-round-12 transform) only gives 26 distinct
  *     classes, so k=100 (sf10) would put ~4 near-verbatim twins in every
  *     rotation class; independent permutations share a full shingle only
  *     with probability ~26^-(distinct chars) ≈ 0. n_chars is recomputed
  *     to stay consistent.
  *   - embeddings are circularly shifted per copy, and SIGN-FLIPPED for
  *     copies ≥ dim (norm and component distribution preserved,
  *     cosine-identity across copies broken) for the same reason on the
  *     ANN/SemDeDup side. Plain shift alone collides at copy ≥ dim
  *     (dim=64 < k=100 for sf10: copies i and i+64 would be identical
  *     vectors); shift+flip is collision-free up to 2×dim = 128 copies.
  *   - events keep their timestamps: 10× the events in the same time
  *     range models a hotter stream, and time-window state sizes scale
  *     with user count (shifted), not window count.
  *   - each table lands as ONE parquet file named `<table>.parquet`
  *     (the driver fixture's exact layout — q151/q156 stream-copy it as
  *     a file), with row groups sized for ≥32 groups per table (see
  *     `write`) so Spark's byte-range file splitting actually
  *     parallelizes the single-file scans — a row group is the atomic
  *     read unit, and one oversized group serializes the whole scan
  *     stage onto one task.
  */
object GenScale {

  /** Output-affecting generator version. BUMP THIS whenever replicate /
    * perm / shift / write logic changes what lands on disk: generated
    * fixtures are stamped with it (`FIXTURE_VERSION`, written LAST so it
    * doubles as the completion sentinel — a generation killed partway
    * leaves tables but never the stamp), and the on-demand consumers
    * (BatteryPlanSpec's decade sweep) regenerate on any mismatch instead
    * of silently sweeping a fixture an older generator wrote (ADVICE
    * r13). Refactors that keep the bytes identical do NOT bump.
    */
  val fixtureVersion = 2 // v2: source-size-aware row groups (≥32 per table)

  private def stampPath(dst: String) = java.nio.file.Paths.get(s"$dst/FIXTURE_VERSION")

  def stampContent(k: Int): String = s"graft GenScale v$fixtureVersion k=$k\n"

  /** Row-group count from the parquet footer (the atomic read unit —
    * scan parallelism is bounded by it regardless of byte-range splits).
    */
  def rowGroupsOf(file: String): Int = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getBlocks.size finally r.close()
  }

  def stampMatches(dst: String, k: Int): Boolean = {
    val p = stampPath(dst)
    java.nio.file.Files.exists(p) &&
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8") == stampContent(k)
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession.build()
    run(spark, src, dst, k)
    spark.stop()
  }

  /** Session-borrowing body of [[main]] — callable from tests (the
    * BatteryPlanSpec decade-2 sweep generates its sf1 fixture on demand
    * instead of assume-cancelling when it is absent, ADVICE r12) without
    * stopping the caller's shared SparkSession.
    */
  def run(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def base(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    val custB = base(tbl("customer"), "c_custkey")
    val suppB = base(tbl("supplier"), "s_suppkey")
    val partB = base(tbl("part"), "p_partkey")
    val orderB = base(tbl("orders"), "o_orderkey")
    val userB = base(tbl("events"), "user_id")
    val eidB = base(tbl("events"), "event_id")
    val docB = base(tbl("documents"), "doc_id")
    val vecB = base(tbl("embeddings"), "vec_id")

    /** k copies with per-column key shifts; non-keyed columns pass through. */
    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame = {
      val copies = spark.range(k).toDF("__copy")
      df.crossJoin(copies).select(df.columns.toIndexedSeq.map { c =>
        shifts.get(c) match {
          case Some(b) => (col(c) + col("__copy") * b).as(c)
          case None => col(c)
        }
      }: _*)
    }

    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$dst/__tmp_$name"
      // Row-group sizing (round 14): a row group is parquet's atomic read
      // unit, so a table whose bytes fit ONE group serializes every
      // scan-side stage onto a single task no matter how many cores the
      // session has. The fixed 8 MB block left sf1's documents.parquet a
      // single 6.9 MB group — every doc-axis sf1 measurement carried a
      // 1-task tokenize stage, inflating sf1 wall time and UNDERSTATING
      // sf1→sf10 slopes (found when q141/q205 measured FASTER at sf10
      // than sf1 in one session). Target ≥32 groups (the local[32]
      // width) from the source size × k, clamped to [256 KB, 8 MB].
      val srcBytes = java.nio.file.Files.size(
        java.nio.file.Paths.get(s"$src/$name.parquet"))
      val block = math.max(256L * 1024, math.min(8L * 1024 * 1024, srcBytes * k / 32))
      def writeOnce(rel: DataFrame, blockBytes: Long): Unit =
        writeSingleParquet(rel, blockBytes, tmp, s"$dst/$name.parquet")
      writeOnce(df, block)
      // Second pass when the estimate misses low: the src×k sizing
      // assumes the k copies encode like the source, but e.g. embeddings'
      // copies are shifts/flips of the SAME vectors and dictionary-encode
      // ~100× smaller, leaving a handful of oversized groups. Re-split
      // from the ACTUAL footer when a data-sized table landed <32 groups.
      val out = java.nio.file.Paths.get(s"$dst/$name.parquet")
      val outBytes = java.nio.file.Files.size(out)
      if (outBytes >= 2L * 1024 * 1024 && rowGroupsOf(out.toString) < 32) {
        // Read back UNSPLIT: Spark packs file splits size-descending, so a
        // split read's row order — hence the rewritten fixture's bytes —
        // would depend on session conf (maxPartitionBytes/parallelism),
        // breaking the deterministic-bytes contract FIXTURE_VERSION's
        // "identical bytes do not bump" rule relies on (ADVICE r14). One
        // oversized partition covering the whole file yields file order
        // regardless of conf; the rewrite is a one-file pass, so the lost
        // parallelism is irrelevant.
        val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try {
          spark.conf.set("spark.sql.files.maxPartitionBytes", (outBytes + (1L << 20)).toString)
          writeOnce(spark.read.parquet(out.toString),
            math.max(64L * 1024, outBytes / 32))
        } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      }
    }

    write(tbl("region"), "region")
    write(tbl("nation"), "nation")
    write(replicate(tbl("customer"), Map("c_custkey" -> custB)), "customer")
    write(replicate(tbl("supplier"), Map("s_suppkey" -> suppB)), "supplier")
    write(replicate(tbl("part"), Map("p_partkey" -> partB)), "part")
    write(replicate(tbl("orders"),
      Map("o_orderkey" -> orderB, "o_custkey" -> custB)), "orders")
    write(replicate(tbl("lineitem"),
      Map("l_orderkey" -> orderB, "l_partkey" -> partB, "l_suppkey" -> suppB)),
      "lineitem")
    write(replicate(tbl("events"),
      Map("event_id" -> eidB, "user_id" -> userB)), "events")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    /** Seeded Fisher–Yates permutation of the alphabet for copy i (i=0 →
      * identity). StringTranslate accepts non-foldable matching/replace
      * columns (it re-derives its dict when they change), so the per-copy
      * mapping rides in on a k-row join instead of a k-branch CASE.
      */
    def perm(i: Int): String = {
      if (i == 0) lower
      else {
        val a = lower.toCharArray
        val rnd = new java.util.Random(0xC0FFEEL + i)
        var j = a.length - 1
        while (j > 0) { val m = rnd.nextInt(j + 1); val t = a(j); a(j) = a(m); a(m) = t; j -= 1 }
        new String(a)
      }
    }
    val docCopies = spark.createDataFrame(
      (0 until k).map { i =>
        val p = perm(i); (i.toLong, lower + upper, p + p.toUpperCase)
      }).toDF("__copy", "__from", "__to")
    val docs =
      tbl("documents").crossJoin(docCopies)
        .withColumn("doc_id", col("doc_id") + col("__copy") * docB)
        .withColumn("text", expr("translate(text, __from, __to)"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .drop("__copy", "__from", "__to")
    write(docs, "documents")
    // fail fast on ragged/empty embeddings: the shift transform assumes a
    // uniform dimension (a shorter vector would hand slice() a negative
    // length mid-write, leaving a half-written dst fixture)
    val dimRow = tbl("embeddings")
      .selectExpr("min(size(embedding))", "max(size(embedding))").head()
    require(!dimRow.isNullAt(0), "embeddings table is empty")
    val (dimMin, embDim) = (dimRow.getInt(0), dimRow.getInt(1))
    require(dimMin == embDim, s"ragged embedding dims: min $dimMin != max $embDim")
    require(k <= 2 * embDim,
      s"shift+sign-flip is collision-free only up to 2*dim = ${2 * embDim} copies, got k=$k")
    val embCopies = spark.createDataFrame(
      (0 until k).map { i => (i.toLong, i % embDim, if (i >= embDim) -1.0f else 1.0f) }
    ).toDF("__copy", "__shift", "__sign")
    val embs =
      tbl("embeddings").crossJoin(embCopies)
        .withColumn("vec_id", col("vec_id") + col("__copy") * vecB)
        .withColumn("embedding", expr(
          """transform(
            |  concat(slice(embedding, __shift + 1, size(embedding) - __shift),
            |         slice(embedding, 1, __shift)),
            |  x -> x * __sign)""".stripMargin))
        .drop("__copy", "__shift", "__sign")
    write(embs, "embeddings")
    java.nio.file.Files.write(stampPath(dst), stampContent(k).getBytes("UTF-8"))

    println(s"""{"gen":"$dst","k":$k,"lineitem_rows":${spark.read.parquet(s"$dst/lineitem.parquet").count()}}""")
  }

  /** Writes `df` as ONE parquet file at `path` with row groups of about
    * `blockBytes`: a coalesced write to the scratch directory `tmp`, whose
    * one part file then replaces `path`; `tmp` is removed. The fixture
    * generators' one single-file writer.
    */
  private[graft] def writeSingleParquet(
      df: DataFrame, blockBytes: Long, tmp: String, path: String): Unit = {
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", blockBytes)
      .parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(tmp).listFiles().foreach(_.delete())
    new java.io.File(tmp).delete()
  }
}

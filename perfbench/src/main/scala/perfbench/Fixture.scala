package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Per-checkout fixtures: inputs that do not depend on the run seed, made
  * once before the first run (in a process of their own, so no run's
  * set-up time includes them).
  *
  * Usage: perfbench.Fixture <fixturesDir>
  */
object Fixture {

  /** Bump when the generators change what they write. */
  val Version = "star v2"

  def indexBuildSeconds(dir: String): Double =
    new String(Files.readAllBytes(Paths.get(dir, "ivf_index", "BUILD_SECONDS")), UTF_8).trim.toDouble

  /** The persisted IVF index over the fixture's embeddings, built the way
    * `graft.ext.IvfIndex.Cache.indexFor` builds it (sampled training of
    * √N cells, strided PQ codebook); returns the build's seconds.
    */
  def buildIndex(spark: org.apache.spark.sql.SparkSession, dir: String): Double = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.ext.{IvfIndex, Similarity}
    val t0 = System.nanoTime()
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val n = Gen.starEmbeddings
    val stride = Similarity.sqrtStride(n)
    val trainStride = math.max(1L, n / (4L * stride))
    IvfIndex.build(emb, "vec_id", "embedding", stride = stride, trainIters = 1,
      trainOn = Some(emb.filter(pmod(col("vec_id"), lit(trainStride)) === 0)),
      nSub = IvfIndex.Cache.nSub, subDim = IvfIndex.Cache.subDim,
      codeStride = math.max(1L, n / 64), outDir = s"$dir/ivf_index")
    (System.nanoTime() - t0) / 1e9
  }

  private def stamp(dir: String) = Paths.get(dir, "FIXTURE_VERSION")

  def ready(dir: String): Boolean =
    Files.isRegularFile(stamp(dir)) && new String(Files.readAllBytes(stamp(dir)), UTF_8) == Version

  def main(args: Array[String]): Unit = {
    val dir = s"${args(0)}/star"
    if (ready(dir)) return
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").appName("perfbench-fixture")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      Workload.rmTree(dir)
      Gen.writeStar(spark, dir)
      val buildS = buildIndex(spark, dir)
      Files.write(Paths.get(dir, "ivf_index", "BUILD_SECONDS"), buildS.toString.getBytes(UTF_8))
      // one small weather pipeline pass, so the class archive run.py dumps
      // from this JVM also holds the CSV source and the weather pipeline
      val w = s"${args(0)}/weather-classes"
      Files.createDirectories(Paths.get(w))
      Gen.weatherCsv(s"$w/in.csv", 1L, 60)
      graft.pipeline.Weather.run(spark, s"$w/in.csv", s"$w/out",
        graft.pipeline.Weather.Conf(writeHistory = true))
      Workload.rmTree(w)
      // written last: a killed generation leaves no stamp
      Files.write(stamp(dir), Version.getBytes(UTF_8))
    } finally spark.stop()
  }
}

package perfbench

import org.apache.spark.sql.Observation
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.SparkEntry
import graft.ext.{IvfIndex, Similarity}

/** Read-only loop over `SparkEntry.queries` on a generated star schema:
  * each op is one query written to the noop sink, as `graft.Bench` times
  * it. Rows are the table rows each query's plan scans.
  *
  * The tables are a fixed fixture in `fixtureDir` (see [[Fixture]]), made
  * once per checkout like the repository's sf fixtures; the run seed orders
  * the ops.
  */
final class StarQueries(fixtureDir: String, expectedFile: String) extends Workload {
  val name = "star_queries"
  val queries: Seq[String] = StarQueries.DefaultQueries
  def kinds: Seq[String] = queries
  override def blockSize: Int = queries.size
  private def dir(ctx: Ctx) = fixtureDir
  private val indexDir = s"$fixtureDir/ivf_index"
  /** Per query: (table rows scanned, table relations in the plan). */
  val scans = scala.collection.mutable.HashMap[String, (Long, Int)]()
  private val checkedDigest = scala.collection.mutable.HashMap[String, (Long, BigDecimal)]()
  /** Seconds the fixture's index build took (measured once per checkout). */
  def buildS: Double = Fixture.indexBuildSeconds(fixtureDir)

  def datagen(ctx: Ctx): Unit =
    require(Fixture.ready(fixtureDir), s"star fixture missing under $fixtureDir (run perfbench.Fixture)")

  /** The one op that is not a registry query: q324's serve (ten query
    * vectors, k = 5, nProbe = 3) against the fixture's persisted index,
    * which a production server builds once and serves many times.
    */
  private def serve(ctx: Ctx) = {
    import org.apache.spark.sql.functions.col
    val q = graft.Tables.load(ctx.spark, dir(ctx), "embeddings").filter(col("vec_id") < 10)
    IvfIndex.serveTopK(ctx.spark, indexDir, q, "vec_id", "embedding", k = 5, nProbe = 3)
  }

  def inputSizes: Seq[(String, Long)] =
    Gen.starRows.toSeq.sortBy(_._1).map { case (t, n) => s"${t}_rows" -> n }

  def ops(seed: Long): Iterator[Op] = {
    val idx = queries.zipWithIndex.toMap
    Workload.blocks(seed, queries.map(_ -> 1)).zipWithIndex
      .map { case (q, i) => Op(i.toLong, q, idx(q)) }
  }

  /** Table rows a query's plan scans and its table relation count, from
    * the analyzed plan's leaves.
    */
  private def scanned(df: org.apache.spark.sql.DataFrame): (Long, Int) = {
    val rows = df.queryExecution.analyzed.collectLeaves().collect {
      case r: LogicalRelation => r.relation match {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.rootPaths.map(p => Gen.starRows.getOrElse(p.getName.stripSuffix(".parquet"), 0L)).sum
        case _ => 0L
      }
    }
    (rows.sum, rows.size)
  }

  def run(ctx: Ctx, op: Op): OpResult = {
    val spark = ctx.spark
    ctx.span("op") {
      val df = ctx.span("tables.load") {
        if (op.kind == StarQueries.Serve) serve(ctx) else SparkEntry.queries(op.kind)(spark, dir(ctx))
      }
      val rows = scans.getOrElseUpdate(op.kind, scanned(df))._1
      if (!checkedDigest.contains(op.kind)) {
        // first run of this query (a warm-up op): digest its output on the
        // way to the sink; later runs are plain noop writes
        val obs = Observation(s"digest_${op.id}")
        val cols = Workload.digestCols(df)
        df.observe(obs, cols.head, cols.tail: _*).write.format("noop").mode("overwrite").save()
        val r = obs.get
        checkedDigest(op.kind) = (r("n").asInstanceOf[Long],
          Option(r("h").asInstanceOf[java.math.BigDecimal]).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
      } else ctx.span(s"queries.${op.kind}")(df.write.format("noop").mode("overwrite").save())
      OpResult(rows)
    }
  }

  /** Every query that ran must match its stored count and digest, and the
    * serve op's index must return its queries' true top-k (brute force) at
    * least at the floor.
    */
  def check(ctx: Ctx, done: Seq[(Op, OpResult)]): Checked = {
    val expected = StarQueries.readExpected(expectedFile)
    val badQueries = checkedDigest.collect {
      case (q, got) if !expected.get(q).contains(got) => q
    }.toSet ++ done.map(_._1.kind).filterNot(checkedDigest.contains)
    val stats = IvfIndex.cellStats(ctx.spark, indexDir).head()
    val recall = recallAtK(ctx)
    Checked(done.collect { case (op, _) if badQueries(op.kind) => op.id }.toSet,
      guards = Map("ivf.recall_at_k" -> recall,
        "ivf.files_per_cell" -> stats.getAs[Long]("n_files").toDouble / stats.getAs[Long]("n_cells")),
      guardsOk = recall >= StarQueries.RecallFloor,
      notes = badQueries.toSeq.sorted.map(q =>
        s"$q: got ${checkedDigest.get(q)}, expected ${expected.get(q)}") :+ s"recall@5=$recall")
  }

  /** The serve op's answer against brute force over the same corpus. */
  private def recallAtK(ctx: Ctx): Double = {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(ctx.spark, dir(ctx), "embeddings")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairsOf(Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5))
    (truth intersect pairsOf(serve(ctx))).size.toDouble / truth.size
  }

  /** Observed (count, digest) per query, for recording expected values. */
  def observed: Map[String, (Long, BigDecimal)] = checkedDigest.toMap
}

object StarQueries {

  /** The persisted-index serve op's kind. */
  val Serve = "ivf_serve"

  /** TPC-H ports, a join, an anti join, a window, the events stream, the
    * reference's own operators over lineitem, exact document dedup, and the
    * persisted-index serve.
    */
  val DefaultQueries: Seq[String] = Seq(
    "q275_sql_q1", "q88_sql_q3", "q277_sql_q6",
    "q15_join_inner", "q18_join_anti", "q22_window_rank", "q28_events_hourly",
    "q05_daily_agg", "q08_mode_det", "q10_median_impute", "q35_dedup_exact", Serve)

  /** recall@5 of the serve op when this benchmark was written; a drop
    * below it fails the run.
    */
  val RecallFloor = 1.0

  /** name -> (rows, digest), as stored with the benchmark; empty when the
    * file is missing (every query then fails its check).
    */
  def readExpected(path: String): Map[String, (Long, BigDecimal)] =
    if (!new java.io.File(path).isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try src.getLines()
        .filterNot(l => l.isEmpty || l.startsWith("#"))
        .map(_.split("\t"))
        .map(f => f(0) -> (f(1).toLong, BigDecimal(f(2))))
        .toMap
      finally src.close()
    }
}

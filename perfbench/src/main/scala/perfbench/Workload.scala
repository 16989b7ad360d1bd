package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One op of a workload's seeded stream: `kind` selects the operation,
  * `arg` its input slice (a query name index, a batch number, ...).
  */
final case class Op(id: Long, kind: String, arg: Int)

/** What running one op produced: input rows consumed and whatever the
  * output check needs later (kept small; checks run after the window).
  */
final case class OpResult(rows: Long, output: Any = ())

final class Ctx(val spark: SparkSession, val work: String, val seed: Long, val tracer: Tracer) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** A benchmark workload: seeded inputs, a seeded op stream, the ops
  * themselves (untraced and traced forms) and the output checks.
  */
trait Workload {
  def name: String

  /** Op kinds in the stream; warm-up runs every kind before timing. */
  def kinds: Seq[String]

  /** Write the seeded inputs under ctx.work. Must be repeatable: a second
    * call rewrites the same bytes.
    */
  def datagen(ctx: Ctx): Unit

  /** Build derived state (indexes). Runs once, after datagen. */
  def index(ctx: Ctx): Unit = ()

  /** Input sizes for the run metadata. */
  def inputSizes: Seq[(String, Long)]

  /** The seeded op stream (unbounded), made of blocks of [[blockSize]] ops
    * that each hold the whole mix.
    */
  def ops(seed: Long): Iterator[Op]

  /** Ops per block of the stream. Warm-up and the timed window run whole
    * blocks, so every window holds the same mix whatever the seed.
    */
  def blockSize: Int = 1

  /** Untimed blocks before the window; each kind must run at least once. */
  def warmupBlocks: Int = 1

  /** Run one op; throws on failure. With ctx.tracer enabled it may run a
    * traced form that materialises each layer under its own span.
    */
  def run(ctx: Ctx, op: Op): OpResult

  /** Check outputs after the window. Returns the ids of ops whose output
    * is wrong, plus named guard values (recall, pair counts) and whether
    * the guards hold.
    */
  def check(ctx: Ctx, done: Seq[(Op, OpResult)]): Checked

  /** Release run-time state. */
  def cleanup(ctx: Ctx): Unit = ()
}

final case class Checked(badOps: Set[Long], guards: Map[String, Double] = Map.empty,
    guardsOk: Boolean = true, notes: Seq[String] = Nil)

object Workload {
  /** `expected` is the directory of stored expected outputs, `fixtures`
    * the directory of per-checkout fixtures.
    */
  def byName(name: String, expected: String, fixtures: String): Option[Workload] = name match {
    case "weather_etl" => Some(new WeatherEtl)
    case "star_queries" =>
      Some(new StarQueries(s"$fixtures/star", s"$expected/star_queries.tsv"))
    case "corpus_llm" => Some(new CorpusLlm)
    case _ => None
  }
  val names: Seq[String] = Seq("weather_etl", "star_queries", "corpus_llm")

  /** Block-shuffled stream: each block holds `mix` (kind -> count) in a
    * seeded order, so any prefix of the stream is close to the mix.
    */
  def blocks(seed: Long, mix: Seq[(String, Int)]): Iterator[String] = {
    val rnd = new scala.util.Random(seed)
    val block = mix.flatMap { case (k, n) => Seq.fill(n)(k) }
    Iterator.continually(rnd.shuffle(block)).flatten
  }

  /** Order-insensitive content digest of a frame: row count and the
    * decimal sum of per-row xxhash64 over all columns (no overflow).
    */
  def digestCols(df: DataFrame): Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n"),
    sum(xxhash64(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*).cast("decimal(38,0)")).as("h"))

  def rmTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      } finally s.close()
    }
  }
}

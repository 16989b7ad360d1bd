package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types.DecimalType
import graft.ops.Num

/** One driver-visible query: a Spark plan over the fixture tables plus an
  * equivalent ANSI/DuckDB SQL oracle (None for ops whose results depend on
  * Spark-internal choices — e.g. murmur/xxhash signatures, approximate
  * sketches — where the driver records a weaker rows-only check).
  *
  * Determinism contract (driver hashes values after sorting columns by
  * name): every oracled query ends in a total ORDER BY, aliases every
  * computed column identically on both sides, renders date/timestamp keys
  * as strings, and rounds floating-point outputs (both sides with
  * half-away-from-zero semantics) so cross-engine summation-order noise
  * cannot flip the hash.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  /** Registers each fixture table as a temp view of its own name, for the
    * queries written as one SQL text shared with the oracle.
    */
  def registerViews(s: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => tbl(s, dir, t).createOrReplaceTempView(t))

  /** Order-independent, cross-engine-exact money sum: round to 4 places,
    * accumulate in DECIMAL(18,4), read back as double — identical under
    * any partitioning or merge order, and equal to DuckDB's.
    */
  def moneySum(c: Column): Column =
    sum(Num.roundTo(c, 4).cast(DecimalType(18, 4))).cast("double")

  /** [[moneySum]] as SQL text, valid verbatim in Spark SQL and DuckDB. */
  def moneySumSql(e: String): String =
    s"CAST(SUM(CAST(${Num.roundSql(e, 4)} AS DECIMAL(18,4))) AS DOUBLE)"

  /** DuckDB twin of [[graft.ext.Text.tokenHash32]]: first 8 hex digits of
    * md5(e), parsed as an unsigned 32-bit value (always < 2^32, so
    * BIGINT-safe).
    */
  def hash32Sql(e: String): String = s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"

  /** Best-effort recursive delete for streaming queries' per-invocation
    * scratch dirs (stream source copy, sink, checkpoint) — they are
    * created fresh each call and must not accumulate across verify/bench
    * cycles (ADVICE r10: q303 leaked a full events.parquet copy per
    * call). Callers materialize the sink read (localCheckpoint) first.
    */
  def rmTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(f => try java.nio.file.Files.deleteIfExists(f) catch { case _: Exception => () })
      finally walk.close() // Files.walk holds a directory fd until closed
    }
  }
}

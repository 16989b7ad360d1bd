package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Mode aggregates with pandas-exact tie semantics (A3/A4).
  *
  * - Deterministic mode (A3, `x.mode()[0]` at v5_group_project_dag.py:177):
  *   ties among max counts break to the *smallest* value.
  * - Strict mode (A4, `get_precip_mode_or_nan` at
  *   v5_group_project_dag.py:145-153): any tie among max counts → NULL.
  *
  * Spark's built-in `mode` breaks ties arbitrarily unless asked for
  * deterministic ties (`mode(c, true)`: the lowest value, = A3) and has no
  * strict form. The frame forms here are a relational count+max plan
  * (scales: two hash aggregates + one window over the small
  * per-(key,value) count relation — cardinality = |keys| × |distinct
  * values|, not |rows|). The typed `Aggregator` twins fit in one
  * aggregate beside other aggregates (`Weather.monthly` uses the strict
  * one); their buffer is a value→count map, fine for low-cardinality
  * values (the reference's precip type has ~3) but the relational plan is
  * the scale path.
  */
object Aggregates {

  /** Per-key rows: keys :+ (__cnt of max) filtered to max-count values. */
  private def maxCountValues(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val counts = df
      .filter(col(valueCol).isNotNull) // pandas value_counts / mode skip NaN
      .groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(keys.map(col): _*)
    counts
      .withColumn("__maxc", max(col("__cnt")).over(w))
      .filter(col("__cnt") === col("__maxc"))
  }

  /** A3: deterministic mode — smallest value among tied max counts.
    * Groups whose values are all NULL are absent from the output (as in
    * pandas, where `mode()[0]` would raise / the reference never hits it).
    */
  def modeDeterministic(df: DataFrame, keys: Seq[String], valueCol: String, out: String): DataFrame =
    maxCountValues(df, keys, valueCol)
      .groupBy(keys.map(col): _*)
      .agg(min(col(valueCol)).as(out))

  /** A4: strict mode — NULL when >1 value ties the max count. */
  def modeStrict(df: DataFrame, keys: Seq[String], valueCol: String, out: String): DataFrame =
    maxCountValues(df, keys, valueCol)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__nties"), min(col(valueCol)).as("__minv"))
      .select((keys.map(col) :+ when(col("__nties") === 1, col("__minv")).as(out)): _*)

  // ---- typed Aggregator (UDAF surface) twins -------------------------------

  /** Buffer = value→count map. OUT: Some(mode) / None on tie (strict) or
    * smallest-of-ties (deterministic).
    */
  private final class ModeAgg(strict: Boolean)
      extends Aggregator[String, Map[String, Long], Option[String]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], v: String): Map[String, Long] =
      if (v == null) b else b.updated(v, b.getOrElse(v, 0L) + 1L)
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      if (a.size < b.size) merge(b, a)
      else b.foldLeft(a) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) }
    def finish(b: Map[String, Long]): Option[String] =
      if (b.isEmpty) None
      else {
        val maxC = b.valuesIterator.max
        val ties = b.collect { case (k, c) if c == maxC => k }
        if (strict && ties.size > 1) None else Some(ties.min)
      }
    def bufferEncoder: Encoder[Map[String, Long]] = Encoders.kryo[Map[String, Long]]
    def outputEncoder: Encoder[Option[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  val modeStrictAgg: Aggregator[String, Map[String, Long], Option[String]] = new ModeAgg(true)
  val modeDetAgg: Aggregator[String, Map[String, Long], Option[String]] = new ModeAgg(false)

  /** SQL names: `mode_strict(col)`, `mode_det(col)`. */
  def registerUdafs(spark: SparkSession): Unit = {
    spark.udf.register("mode_strict", udaf(modeStrictAgg, Encoders.STRING))
    spark.udf.register("mode_det", udaf(modeDetAgg, Encoders.STRING))
  }

  /** A1 literal form: grouped means broadcast back to rows (pandas
    * `groupby().transform('mean')`) — a window aggregate. The composed
    * project+distinct pipeline collapses to plain groupBy means, which
    * `Weather.daily`/`monthly` use.
    */
  def windowMeans(df: DataFrame, keys: Seq[String], measures: Map[String, String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    measures.foldLeft(df) { case (d, (src, out)) =>
      d.withColumn(out, avg(col(src)).over(w))
    }
  }
}

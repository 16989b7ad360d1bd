package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cleaning operators: range-gate-to-null (P6), median imputation (A2/N1),
  * keep-first dedup (D1). Reference semantics from
  * /root/reference/v5_group_project_dag.py:68-101 — values outside a bound
  * become NULL (not dropped), medians are computed *after* the gating pass
  * (so imputation values come from in-range data only), and dedup keeps the
  * first occurrence in file order.
  *
  * All operators are pure Column/DataFrame transforms: they stay inside
  * whole-stage codegen and never collect row data to the driver (the median
  * pass collects one aggregate row — a handful of doubles — which is the
  * same data volume a scalar subquery would broadcast).
  */
object Cleaning {

  /** Open/closed numeric bounds. The reference mixes strict and inclusive
    * comparisons per column (v5_group_project_dag.py:79-84): temperatures use
    * strict `lo < x < hi`, the rest closed `lo <= x <= hi`. Preserve exactly.
    */
  final case class Bounds(
      lo: Option[Double] = None,
      hi: Option[Double] = None,
      loStrict: Boolean = false,
      hiStrict: Boolean = false) {
    def contains(c: Column): Column = {
      val loOk = lo.map(v => if (loStrict) c > v else c >= v).getOrElse(lit(true))
      val hiOk = hi.map(v => if (hiStrict) c < v else c <= v).getOrElse(lit(true))
      loOk && hiOk
    }
  }
  object Bounds {
    def open(lo: Double, hi: Double): Bounds =
      Bounds(Some(lo), Some(hi), loStrict = true, hiStrict = true)
    def closed(lo: Double, hi: Double): Bounds = Bounds(Some(lo), Some(hi))
    def atLeast(lo: Double): Bounds = Bounds(lo = Some(lo))
  }

  /** P6: value kept when inside bounds, else NULL (row is never dropped).
    * NULL input stays NULL (`when` propagates it to the otherwise-branch).
    */
  def gateToNull(c: Column, b: Bounds): Column = when(b.contains(c), c)

  def rangeGateToNull(df: DataFrame, gates: Map[String, Bounds]): DataFrame =
    gates.foldLeft(df) { case (d, (name, b)) =>
      d.withColumn(name, gateToNull(col(name), b))
    }

  /** A2+N1: median imputation. One aggregate pass computes all medians
    * (exact `median`, interpolating the midpoint for even counts like
    * pandas `Series.median`), then a single `na.fill` applies them.
    * Scale note: the aggregate is a normal distributed agg; only the final
    * per-column medians (scalars) reach the driver.
    *
    * EAGER at call time: the median aggregate executes when this method
    * is CALLED (`.head()` of a 1-row agg), not when the returned frame
    * is acted on — the fill values must be literals in the plan. Data
    * volume reaching the driver is a scalar per column (fine at any
    * scale), but don't call it inside a lazily-assembled pipeline stage
    * that expects zero execution before the sink.
    */
  def medianImpute(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c => median(col(c)).as(c))
    val meds = df.agg(aggs.head, aggs.tail: _*).head()
    val fill = cols.flatMap { c =>
      val i = meds.fieldIndex(c)
      if (meds.isNullAt(i)) None else Some(c -> meds.getDouble(i))
    }.toMap
    if (fill.isEmpty) df else df.na.fill(fill)
  }

  /** D1: dedup by key keeping the first row under an explicit order.
    * Spark's `dropDuplicates` keeps an arbitrary row; pandas
    * `drop_duplicates(keep='first')` keeps the first in file order, so the
    * caller must supply a deterministic order anchor.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** D1 with a file-order anchor (`monotonically_increasing_id` is
    * monotone within and across input-file order in a single scan), the
    * closest distributed equivalent of pandas keep='first'.
    */
  def dedupKeepFirstFileOrder(df: DataFrame, keys: Seq[String]): DataFrame =
    flagFirstInFileOrder(df, keys, "__first").filter(col("__first")).drop("__first")

  /** D1 without dropping: adds boolean `flag`, true on the first row of
    * each key in file order (the rows [[dedupKeepFirstFileOrder]] keeps).
    * For callers that need every row before the dedup (a median over all
    * rows) and only the kept rows after, from one window pass.
    */
  def flagFirstInFileOrder(df: DataFrame, keys: Seq[String], flag: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__ord"))
    df.withColumn("__ord", monotonically_increasing_id())
      .withColumn(flag, row_number().over(w) === 1)
      .drop("__ord")
  }

  /** P9: drop rows with nulls in `cols` — the INTENDED semantics of v1's
    * `df[c] = df[c].dropna()` (group_project_dag.py:129), which is a
    * no-op in pandas due to index realignment; we implement the intent,
    * not the bug (SURVEY.md §2.11).
    */
  def dropNullRows(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop(cols)

  /** P10: month-conditional range gate — the INTENDED semantics of v2's
    * dead seasonal-cleaning block (v2_group_project_dag.py:81-108, which
    * crashes on a typo'd column + scalar-vs-Series comparison): summer
    * months get one bound set, the rest another; out-of-range → NULL.
    * Compose with [[medianImpute]] to reproduce the block's
    * out-of-range→median intent.
    */
  def seasonalGateToNull(
      df: DataFrame, dateCol: String, valueCol: String,
      summerMonths: Seq[Int], summer: Bounds, winter: Bounds): DataFrame = {
    val m = month(col(dateCol))
    df.withColumn(
      valueCol,
      when(m.isin(summerMonths.map(_.asInstanceOf[Any]): _*),
        gateToNull(col(valueCol), summer))
        .otherwise(gateToNull(col(valueCol), winter)))
  }
}

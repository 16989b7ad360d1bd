package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The cell layout under every exact rank, ntile, percentile and running
  * aggregate in [[Quantiles]] and [[PrefixSum]]: split a relation into
  * CELLS — contiguous runs of a (direction-normalized) double surrogate of
  * the sort key — so that no task ever sorts a whole partition key, then
  * recover exact global positions from per-cell totals.
  *
  *   1. ONE aggregate pass yields the row count N next to a
  *      `percentile_approx` grid of each surrogate ([[of]]; a second,
  *      finer grid pass only past 64 cells). The grid is
  *      approximate — boundaries only balance load; membership and order
  *      never depend on them (equal surrogates always share a cell, and
  *      rows in different cells are strictly ordered by the surrogate).
  *   2. The cell count is derived from N: cells = clamp(⌈N / RowsPerCell⌉,
  *      MinCells, MaxCells) ([[cellCount]]), and the cells − 1 boundaries
  *      are read off the grid.
  *   3. [[cellOf]] assigns each row its cell with the native binary search
  *      [[graft.functions.CellBucket]] (O(log cells) per row).
  *   4. [[totals]] gives per-(keys, cell) count / sum / max of the value
  *      column and their EXCLUSIVE prefixes over the earlier cells of the
  *      same key; [[withPrefixes]] attaches those prefixes to every row.
  *      Callers finish with an in-(keys, cell) window: prefix + in-cell
  *      running aggregate = exact global-in-key running aggregate.
  *
  * When the boundaries collapse to one cell (constant or tiny inputs)
  * there is no totals pass: the prefixes are constants and the in-cell
  * window is the whole computation.
  *
  * `RowsPerCell` = 2^20 is the largest single-task sort the layout admits
  * at scale: about one task's worth of rows at Spark's default 128 MB
  * input split for ~128-byte rows, a sort one core finishes in about a
  * second. `MinCells` = 64 keeps smaller inputs split too: an in-cell
  * window then sorts at most N/64 rows of a key on one core, where one
  * cell would sort every key's whole run in one task — the
  * low-cardinality funnel BatteryPlanSpec's lattice sweep rejects — for
  * the price of one totals pass of ≤ 64 rows per key. `MaxCells` = 4096
  * bounds what the driver holds per call — a grid of ≤ 4095
  * probabilities, the boundary array embedded in the plan (32 KB) and the
  * ≤ 4096-row prefix relation collected for unkeyed layouts — so the
  * in-cell sort stays ≤ RowsPerCell up to 2^32 rows and grows as
  * N / MaxCells past that. The grid's accuracy is 1000 (rank error
  * ≤ 0.001·N per boundary, `approxQuantile`'s 0.001): a sixteenth of a
  * cell at 64 cells; past ~2^29 rows that error, not RowsPerCell, bounds
  * the largest cell (≤ RowsPerCell + 0.002·N rows).
  */
private[ops] final case class CellLayout(rows: Long, bounds: Array[Double], what: String) {
  import CellLayout._

  def cells: Int = bounds.length + 1

  /** `df` with its cell id in column [[CellLayout.Cell]], found by the
    * native binary search, with a fail-fast guard on null sort keys
    * (engines disagree on null ordering, and a silent null would land in
    * cell 0 yet sort nulls-last in the in-cell window). One cell (no
    * bounds) still goes through the search, so the cell column never
    * folds to a constant: the in-cell windows keep their (keys, cell)
    * partitioning in every plan.
    */
  def cellOf(df: DataFrame, surrogate: Column): DataFrame = {
    val cell = graft.functions.BucketExpressions.cellBucket(df.sparkSession, surrogate, bounds)
    df.withColumn(Cell, when(surrogate.isNotNull, cell).otherwise(
      raise_error(lit(s"$what: null sort key — filter or impute nulls before bucketing"))
        .cast("int")))
  }

  /** Per-(keys, cell) `__pn` (count), `__psum`/`__pmax` (sum / max of
    * [[CellLayout.Value]], when `celled` has it) and their exclusive
    * prefixes `__pnoff`/`__psumoff`/`__pmaxoff` over the key's earlier
    * cells. The prefix window runs over the ≤ cells-row subtotals of each
    * key; an unkeyed layout (≤ MaxCells rows in total) is collected and
    * returned as a local relation, so no partition-less window reaches the
    * caller's plan.
    */
  def totals(celled: DataFrame, keys: Seq[String]): DataFrame = {
    val t = prefixed(celled, keys)
    if (keys.nonEmpty) t
    else {
      import scala.jdk.CollectionConverters._
      celled.sparkSession.createDataFrame(t.collect().toSeq.asJava, t.schema)
    }
  }

  private def prefixed(celled: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val valued = celled.columns.contains(Value)
    // try_sum: a max-only caller must not fail on a sum it never reads; a
    // sum caller's in-cell running sum overflows (and raises) wherever a
    // cell subtotal would
    val sub = celled.groupBy(kc :+ col(Cell): _*).agg(
      count(lit(1)).as("__pn"),
      (if (valued) Seq(try_sum(col(Value)).as("__psum"), max(col(Value)).as("__pmax")) else Nil): _*)
    // unkeyed: the ≤ MaxCells subtotals in one partition already, so the
    // prefix window adds no exchange (and no job)
    val grouped = if (keys.isEmpty) sub.coalesce(1) else sub
    val w = Window.partitionBy(kc: _*).orderBy(col(Cell).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    grouped.select(col("*") +: coalesce(sum(col("__pn")).over(w), lit(0L)).as("__pnoff") +: (
      if (valued) Seq(
        coalesce(sum(col("__psum")).over(w), lit(0L)).as("__psumoff"),
        max(col("__pmax")).over(w).as("__pmaxoff"))
      else Nil): _*)
  }

  /** `celled` with the exclusive prefix columns of its (keys, cell). With
    * one cell they are typed constants (0, 0, NULL) and no totals pass
    * runs; otherwise [[totals]] joins back on (keys, cell) — broadcast
    * unless the key domain is data-sized. `from` is the relation the
    * totals are counted on when it differs from the one they are attached
    * to (a materialized base under a chain of derived columns).
    */
  def withPrefixes(
      celled: DataFrame, keys: Seq[String], from: Option[DataFrame] = None,
      broadcastTotals: Boolean = true): DataFrame = {
    val source = from.getOrElse(celled)
    val prefixCols = prefixed(source, keys).schema.fields.filter(_.name.endsWith("off"))
    if (cells == 1)
      prefixCols.foldLeft(celled) { (d, f) =>
        d.withColumn(f.name, (if (f.name == "__pmaxoff") lit(null) else lit(0)).cast(f.dataType))
      }
    else {
      val t = totals(source, keys).select((keys :+ Cell) ++ prefixCols.map(_.name) map col: _*)
      celled.join(if (broadcastTotals) broadcast(t) else t, keys :+ Cell)
    }
  }
}

private[graft] object CellLayout {

  private[ops] val RowsPerCell: Long = 1L << 20
  private[ops] val MinCells: Int = 64
  private[ops] val MaxCells: Int = 4096
  private val GridAccuracy = 1000

  /** Cell id column and the value column [[CellLayout.totals]] sums. */
  private[ops] val Cell = "__pc"
  private[ops] val Value = "__pval"

  /** Spec-only: a cell count replacing [[cellCount]], so specs can pin
    * results at one cell and at several on small inputs.
    */
  private[graft] val cellsForSpecs = new scala.util.DynamicVariable[Option[Int]](None)

  /** clamp(⌈rows / RowsPerCell⌉, MinCells, MaxCells) */
  private[ops] def cellCount(rows: Long): Int =
    math.min(MaxCells.toLong, math.max(MinCells.toLong, (rows + RowsPerCell - 1) / RowsPerCell)).toInt

  /** Direction-normalized double surrogate of a sort key: ascending it is
    * the key itself; descending it is the negation, except that NaN —
    * greatest in Spark's order, so FIRST when descending — maps to −∞,
    * sharing the cell of the negated +∞ (an equal surrogate only merges
    * cells; the in-cell sort on the original key keeps NaN first).
    */
  private[ops] def surrogate(key: Column, ascending: Boolean): Column = {
    val d = key.cast("double")
    if (ascending) d else when(isnan(d), lit(Double.NegativeInfinity)).otherwise(negate(d))
  }

  /** The boundary pass: ONE aggregate over `df` gives N and a
    * MinCells-quantile grid of each surrogate, from which each layout
    * takes its cells − 1 bounds. Only a layout of more than MinCells cells
    * (N > MinCells·RowsPerCell) runs a second, finer grid pass; the grids
    * stay small literals in every plan that carries them.
    */
  private[ops] def of(df: DataFrame, surrogates: Seq[Column], what: String): Seq[CellLayout] = {
    // NaN left out of the grid (it sorts last and the search puts it in
    // the last cell), as `approxQuantile` does at the same 1000 accuracy
    def grids(cells: Int) = surrogates.map(s => percentile_approx(
      when(!isnan(s), s), lit((1 until cells).map(_.toDouble / cells).toArray), lit(GridAccuracy)))
    val first = df.agg(count(lit(1)), grids(MinCells): _*).head()
    val n = first.getLong(0)
    val cells = math.min(MaxCells, cellsForSpecs.value.getOrElse(cellCount(n)))
    val (row, res) =
      if (cells <= MinCells) (first.toSeq.tail, MinCells)
      else (df.agg(grids(cells).head, grids(cells).tail: _*).head().toSeq, cells)
    surrogates.indices.map { i =>
      val bounds =
        if (cells == 1 || row(i) == null) Array.empty[Double]
        else {
          val q = row(i).asInstanceOf[scala.collection.Seq[Double]]
          // grid entry k holds the (k+1)/res quantile; -0.0 -> 0.0 BEFORE
          // distinct: CellBucket.search requires distinct bounds
          (1 until cells).map(j => q(j * res / cells - 1) + 0.0).distinct.sorted.toArray
        }
      CellLayout(n, bounds, what)
    }
  }
}

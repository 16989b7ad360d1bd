package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed running aggregates over LOW-CARDINALITY window partitions —
  * the hazard class one step past the empty partitionSpec: a window
  * `PARTITION BY source` with ~20 source values over a data-sized relation
  * funnels N/20 rows into ONE task (100 TB → 5 TB single-task sorts), and
  * Spark's planner has no countermeasure because the partition count is a
  * data property, not a plan property.
  *
  * Same [[CellLayout]] kernel as [[Quantiles.exactNtile]], generalized
  * from ranks to running aggregates: cells are contiguous runs of the
  * (direction-normalized) ORDER BY key within every partition key; the
  * per-(key, cell) subtotals' exclusive prefixes (a window over ≤ cells
  * rows per key) join back onto the rows, and an in-(key, cell) window
  * adds the within-cell running aggregate: prefix + in-cell running
  * aggregate = exact global-in-partition running aggregate. The largest
  * task sorts one (key, cell): at most N/64 rows of a key below
  * 64·RowsPerCell rows, about RowsPerCell past that, whatever the
  * partition key's size.
  *
  * Exactness: sums regroup additions, so they are exact for integral and
  * DECIMAL `value` types (the battery's users sum token counts — longs);
  * float sums would differ from the sequential window by summation order.
  * Ordering correctness needs no tie care across cells: equal sort keys
  * always share a cell, and rows in different cells are strictly ordered
  * by the key itself. Null sort keys raise (same fail-fast contract as
  * exactNtile). PrefixSumSpec pins row-identity against Spark's own
  * window on randomized multi-seed inputs.
  */
object PrefixSum {

  /** Monotone numeric surrogate of an ASCII-ish string's bytes `from..
    * from+n-1` (1-based, n ≤ 6 keeps the pack exact in a double):
    * codepoints clamp at 255, so the pack is monotone in the string's
    * UTF-8 byte order wherever codepoints stay < 255 and COLLAPSES (same
    * cell — always safe) beyond. Use as [[exclusiveSum]]'s `cellKey` for
    * string window orders (the boundary grid cannot summarize strings).
    *
    * ADVERSARIAL COLLAPSE (pinned in PrefixSumSpec): a corpus whose
    * strings are IDENTICAL through byte `from+n-1` (shared boilerplate
    * prefix longer than the partition prefix + pack window) packs to ONE
    * value, so every row of the hot key lands in ONE coarse cell and the
    * helper degrades to exactly the plain window's single-task cost for
    * that key — still row-correct (equal surrogates only merge cells),
    * NEVER worse than the window it replaces, but no longer load-split.
    * No single-double surrogate can beat this: a double carries 53 bits
    * ≈ 6.6 bytes of resolution, so widening the pack past 6 bytes gains
    * nothing. The knob is `from`: move the pack window PAST the known
    * boilerplate depth (bytes there diverge → cells split again). Use
    * [[cellLoad]] to MEASURE max-rows-per-cell on real data before
    * trusting a layout — data-driven, not hoped.
    */
  def packAscii(c: Column, from: Int, n: Int): Column = {
    require(n >= 1 && n <= 6, s"pack width must be 1..6 bytes, got $n")
    (0 until n).map { i =>
      least(ascii(substring(c, from + i, 1)), lit(255)).cast("long") *
        lit(1L << (8 * (n - 1 - i)))
    }.reduce(_ + _)
  }

  /** Tie-splitting cell surrogate for INTEGER window-order keys with a
    * non-null LONG tie column (the caller's first `ties` entry): `order ±
    * tie/(maxTie+1)` is STRICTLY monotone in (order direction, tie asc),
    * so heavy order-key ties — token counts, char counts, integral
    * scores, where one hot value can hold a data-sized run — spread
    * across coarse cells instead of funneling one cell per value (cells
    * must otherwise co-locate equal sort keys). The fraction is +/− by
    * direction because [[exclusiveSum]] negates the surrogate for
    * descending orders while ties always order ascending. `maxTie` is a
    * driver-side scalar (one max() scan, or table stats at scale).
    * Double rounding may collapse near ties (maxTie past ~2^(53−key
    * bits)) — safe: collapse is non-strict monotone. Integer order keys
    * only: a fractional gap smaller than 1 between distinct order values
    * would break monotonicity.
    */
  def tieCell(order: Column, ascending: Boolean, tie: Column, maxTie: Long): Column = {
    val frac = tie.cast("double") / lit(maxTie.toDouble + 1.0)
    if (ascending) order.cast("double") + frac else order.cast("double") - frac
  }

  /** Preflight diagnostic for [[exclusiveSum]]/[[rank]] cell layouts: the
    * per-(key, cell) row counts the given `cellKey` surrogate would
    * produce — same layout and cell assignment, ONE
    * aggregate scan. Run it (sampled) when choosing a [[packAscii]]
    * offset for a new corpus: `max(n_rows)` is the largest single-task
    * window the layout will pay; a hot boilerplate prefix shows up here
    * as one cell carrying the whole key (see the packAscii scaladoc)
    * before it shows up as a straggler task in production.
    *
    * `ascending` must match the [[exclusiveSum]] call being sized:
    * exclusiveSum negates the surrogate for descending orders, and
    * without the same normalization the reported cell IDS would be
    * mirrored relative to the ones exclusiveSum assigns (the load
    * HISTOGRAM is direction-symmetric, but per-cell drill-down isn't).
    */
  def cellLoad(
      df: DataFrame, keys: Seq[String], cellKey: Column,
      ascending: Boolean = true): DataFrame = {
    val keyed = df.withColumn("__pv", CellLayout.surrogate(cellKey, ascending))
    val Seq(layout) = CellLayout.of(keyed, Seq(col("__pv")), "PrefixSum")
    layout.totals(layout.cellOf(keyed, col("__pv")), keys)
      .select((keys.map(col) :+ col(CellLayout.Cell).as("cell") :+ col("__pn").as("n_rows")): _*)
  }

  /** Exclusive running sum of `value` (and optionally the exact 1-based
    * `row_number` rank) over `PARTITION BY keys ORDER BY order [dir],
    * ties...` — row-identical to
    * `sum(value).over(w.rowsBetween(unboundedPreceding, -1))` (null → 0)
    * and `row_number().over(w)`, with no task ever seeing a whole
    * partition. The inclusive sum is `out + value`.
    *
    * `cellKey`: optional numeric surrogate used ONLY for coarse-cell
    * placement — it must be non-null and MONOTONE (non-strictly) in the
    * window order within every partition; equal surrogates for ordered
    * rows merely collapse them into one cell (safe). Defaults to the
    * (direction-normalized) order column itself; pass [[packAscii]] of
    * the post-partition-prefix bytes for string orders.
    *
    * `broadcastOffsets`: the offsets relation is |distinct keys|·cells
    * rows. Broadcast it (default) for low-cardinality keys; pass false
    * for HIGH-cardinality keys (q140's SNM blocks) — the offsets join
    * then shuffles on (keys, cell), which distributes at any key count.
    */
  def exclusiveSum(
      df: DataFrame, keys: Seq[String],
      order: Column, ascending: Boolean, ties: Seq[Column],
      value: Column, outSum: String, outRank: Option[String] = None,
      cellKey: Option[Column] = None,
      broadcastOffsets: Boolean = true): DataFrame = {
    require(keys.nonEmpty,
      "empty partition keys: use Quantiles.exactNtile-style global machinery")
    val qv = CellLayout.surrogate(cellKey.getOrElse(order), ascending)
    // null values contribute 0, exactly like the window sum skipping them
    // (the twin `sum(value).over(...preceding,-1)` ignores nulls; the
    // inclusive-minus-current trick below would otherwise null the row)
    //
    // Ckpt BEFORE the eager boundary pass: the input lineage is consumed
    // up to three times — the boundary pass, the subtotal branch, and the
    // celled side of the offsets join — and without a materialization
    // point each consumer recomputes the caller's whole upstream plan.
    // One localCheckpoint (reliable checkpoint under graft.checkpoint.dir
    // — the Ckpt production switch) pays the input once.
    val Value = CellLayout.Value
    val keyed = Ckpt(df.withColumn(Value, coalesce(value, lit(0)))
      .withColumn("__pv", qv))
    val Seq(layout) = CellLayout.of(keyed, Seq(col("__pv")), "PrefixSum")
    val celled = layout.cellOf(keyed, col("__pv")).drop("__pv")
    val joined = layout.withPrefixes(celled, keys, broadcastTotals = broadcastOffsets)
    val inOrd = (if (ascending) order.asc else order.desc) +: ties.map(_.asc)
    val wIn = Window.partitionBy((keys :+ CellLayout.Cell).map(col): _*).orderBy(inOrd: _*)
    // inclusive-minus-current instead of an exclusive frame: the inclusive
    // frame is never null, so no type-widening coalesce enters the sum
    val incl = sum(col(Value)).over(wIn.rowsBetween(Window.unboundedPreceding, 0))
    val summed = joined.withColumn(outSum, col("__psumoff") + incl - col(Value))
    val ranked = outRank match {
      case Some(r) =>
        summed.withColumn(r, col("__pnoff") + row_number().over(wIn).cast("long"))
      case None => summed
    }
    ranked.drop(Value, CellLayout.Cell, "__pnoff", "__psumoff", "__pmaxoff")
  }

  /** Exact per-partition `row_number` alone (q58's rank-derived window
    * functions) — the rank half of [[exclusiveSum]] with a unit weight.
    */
  def rank(
      df: DataFrame, keys: Seq[String],
      order: Column, ascending: Boolean, ties: Seq[Column],
      out: String, cellKey: Option[Column] = None,
      broadcastOffsets: Boolean = true): DataFrame =
    exclusiveSum(df, keys, order, ascending, ties, lit(1L), "__prank_sum",
      Some(out), cellKey, broadcastOffsets).drop("__prank_sum")

  /** GLOBAL exclusive running max of a LONG `value` ordered by `order`
    * ascending — `max(value).over(Window.orderBy(order).rowsBetween(
    * unboundedPreceding, -1))` (null on the first row), with no global
    * window: the layout's per-cell exclusive prefix max (a ≤ cells-row
    * collect, broadcast back) plus an in-cell window finishes the prefix.
    * q198 uses this for the cross-bucket predecessor max, where the input
    * is already the 1024×-reduced bucket relation.
    */
  def exclusiveMaxLong(
      df: DataFrame, order: Column, ties: Seq[Column],
      value: Column, out: String): DataFrame = {
    // Ckpt for the same multi-consumer reason as exclusiveSum
    val Value = CellLayout.Value
    val keyed = Ckpt(df.withColumn(Value, value.cast("long"))
      .withColumn("__pv", order.cast("double")))
    val Seq(layout) = CellLayout.of(keyed, Seq(col("__pv")), "PrefixSum")
    val celled = layout.cellOf(keyed, col("__pv")).drop("__pv")
    val wIn = Window.partitionBy(col(CellLayout.Cell))
      .orderBy((order.asc +: ties.map(_.asc)): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    // greatest skips nulls: null only when BOTH the cell prefix (first
    // cell) and the in-cell prefix (first row in cell) are absent — i.e.
    // exactly the window lag/prefix-max null contract
    layout.withPrefixes(celled, Nil)
      .withColumn(out, greatest(col("__pmaxoff"), max(col(Value)).over(wIn)))
      .drop(Value, CellLayout.Cell, "__pnoff", "__psumoff", "__pmaxoff")
  }
}

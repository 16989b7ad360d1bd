package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** Distributed EXACT ntiles and interpolating percentiles on the
  * [[CellLayout]] kernel.
  *
  * `ntile(n).over(Window.orderBy(...))` with an empty partitionSpec is the
  * classic 100 TB plan killer: Spark funnels the ENTIRE relation into one
  * task for the global sort. [[exactNtile]] computes the identical bucket
  * assignment with no task sorting more than one cell: the layout's exact
  * per-cell counts give each cell's global rank offset, a per-CELL
  * `row_number` plus that offset is the exact global rank, and the
  * standard ntile split (first `N mod n` buckets get `⌈N/n⌉` rows) maps
  * rank to bucket arithmetically. The result is row-identical to the
  * single-partition ntile (QuantilesSpec asserts equality against Spark's
  * own ntile on asc/desc/tied inputs, at one cell and at several).
  *
  * Preconditions: `value` must be non-null — ENFORCED: a null sort key
  * raises at cell assignment — and numerically castable to double; the
  * double cast is only used for COARSE placement (monotone, collapse-safe
  * — equal or collapsed values land in one cell and the in-cell sort uses
  * the original column), so DECIMAL inputs keep exact ordering.
  */
object Quantiles {

  /** One ntile sort key: bucket by `value` (asc/desc) into column `out`. */
  final case class NtileKey(value: Column, ascending: Boolean, out: String)

  def exactNtile(
      df: DataFrame, n: Int, value: Column, ascending: Boolean,
      ties: Seq[Column], out: String): DataFrame =
    exactNtiles(df, n, Seq(NtileKey(value, ascending, out)), ties)

  /** EXACT interpolating percentiles of one double column, bit-identical
    * to Spark's `percentile`/`median` aggregate (PercentileParitySpec pins
    * the equality on adversarial inputs), computed WITHOUT the
    * exact-percentile buffer. Why: Spark's `percentile` ships every
    * distinct value with its count in an OpenHashMap through partial
    * aggregation — the per-partition maps are data-sized, their merge is
    * single-threaded per group, and at 100 TB the buffer itself is an OOM
    * (guide §5: per-task state). This helper keeps everything bounded:
    *
    *   1. the layout's boundary pass (row count + boundaries, one
    *      aggregate), then — only with several cells — its exact per-cell
    *      counts (≤ cells rows collected);
    *   2. the 1-2 boundary ROWS each percentile needs are located by
    *      rank arithmetic and picked via an in-cell sort of only the
    *      cells that contain them (≤ RowsPerCell rows each, distributed);
    *   3. the interpolation `(ceil(pos)−pos)·lo + (pos−floor(pos))·hi`
    *      with pos = p·(n−1), integral pos short-circuiting to `lo`, is
    *      Spark's own IEEE shape (the `lo + frac·(hi−lo)` form is 1 ULP
    *      off on real inputs).
    *
    * Nulls are skipped, exactly as the percentile aggregate skips them; an
    * empty or all-null input gives None per prob, where the aggregate
    * gives NULL. NaN sorts greatest, as in the aggregate. The caller's
    * `df` is scanned two or three times — pass a materialized (Ckpt)
    * relation when the upstream plan is expensive. Returns one value per
    * prob, for embedding as literals (`typedLit` keeps None a typed NULL).
    */
  def exactPercentileValues(
      df: DataFrame, value: Column, probs: Seq[Double]): Seq[Option[Double]] =
    percentileBoundsByKey(df, Nil, value, probs) match {
      case Seq((_, triples)) => triples.map(t => Some(sparkInterpolate(t)))
      case _ => probs.map(_ => None)
    }

  /** Per-KEY exact interpolating percentiles over a BOUNDED key domain
    * (q137's per-returnflag median/MAD, q94's per-flag p50/95/99): the
    * same layout with (key, cell) counts — the collected relation is
    * |keys|·cells rows, so the key domain must be a lattice, never
    * data-sized. Returns a LOCAL relation (key columns with their
    * original types + one double column per prob) for broadcast
    * join-back; values are bit-identical to the per-group
    * `percentile(...)` aggregate (PercentileParitySpec), a NULL key
    * included. Keys whose values are all null are absent, and an empty
    * input gives an empty relation.
    */
  def exactPercentilesByKey(
      df: DataFrame, keyCols: Seq[String], value: Column,
      probs: Seq[Double], outCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && outCols.size == probs.size)
    val spark = df.sparkSession
    val rows = percentileBoundsByKey(df, keyCols, value, probs)
      .map { case (key, triples) =>
        org.apache.spark.sql.Row.fromSeq(key ++ triples.map(sparkInterpolate))
      }
    val keySchema = df.select(keyCols.map(col): _*).schema
    val schema = StructType(
      keySchema.fields ++ outCols.map(o => StructField(o, DoubleType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Spark Percentile's own interpolation shape, bit-exact: integral pos
    * short-circuits to `lo`; otherwise `(ceil(pos)−pos)·lo +
    * (pos−floor(pos))·hi` — the `lo + frac·(hi−lo)` form is 1 ULP off on
    * real inputs (PercentileParitySpec caught exactly that).
    */
  private def sparkInterpolate(t: (Double, Double, Double)): Double = {
    val (pos, lo, hi) = t
    if (math.floor(pos) == math.ceil(pos)) lo
    else (math.ceil(pos) - pos) * lo + (pos - math.floor(pos)) * hi
  }

  /** Shared core: per key (or globally for keyCols = Nil), the
    * (pos, lo, hi) triple of every prob. Passes over `df`: the layout's
    * boundary aggregate; the (key, cell) exact counts (collected —
    * bounded by |keys|·cells), skipped for an unkeyed one-cell layout
    * whose count the boundary pass already gave; and one pick job that
    * sorts ONLY the cells holding boundary rows. Keys with no non-null
    * value are absent from the result.
    */
  private def percentileBoundsByKey(
      df: DataFrame, keyCols: Seq[String], value: Column,
      probs: Seq[Double]): Seq[(Seq[Any], Seq[(Double, Double, Double)])] = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0))
    val spark = df.sparkSession
    val kcols = keyCols.map(col)
    val v = df.select(kcols :+ value.cast("double").as("__pv"): _*)
      .filter(col("__pv").isNotNull)
    val Seq(layout) = CellLayout.of(v, Seq(col("__pv")), "Quantiles.exactPercentiles")
    if (layout.rows == 0L) return Nil
    val celled = layout.cellOf(v, col("__pv"))
    val Cell = CellLayout.Cell
    val k = keyCols.size
    // (key, cell, count, exclusive count prefix within the key)
    val counts: Seq[(Seq[Any], Int, Long, Long)] =
      if (k == 0 && layout.cells == 1) Seq((Nil, 0, layout.rows, 0L))
      else layout.totals(celled, keyCols).collect().toSeq.map(r =>
        ((0 until k).map(r.get): Seq[Any], r.getAs[Int](Cell),
          r.getAs[Long]("__pn"), r.getAs[Long]("__pnoff")))
    // per key: 1-based global ranks each prob interpolates between, and
    // their (cell, in-cell rank) location
    case class Pick(key: Seq[Any], cell: Int, inRank: Long)
    val plans = counts.groupBy(_._1).toSeq.map { case (key, cc) =>
      val n = cc.map(_._3).sum
      val triples = probs.map { p =>
        val pos = p * (n - 1) // Spark: percentage * (count - 1), in doubles
        (pos, math.floor(pos).toLong + 1L, math.ceil(pos).toLong + 1L)
      }
      val locate = triples.flatMap(t => Seq(t._2, t._3)).distinct.map { r =>
        val (_, cell, _, off) = cc.find(c => r > c._4 && r <= c._4 + c._3)
          .getOrElse(sys.error(s"rank $r out of range 1..$n"))
        r -> Pick(key, cell, r - off)
      }.toMap
      (key, triples, locate)
    }
    // one distributed pick job across all keys: restrict to the cells
    // that hold boundary rows, rank in-(key, cell), and join the needed
    // (key, cell, rank) rows (driver-built local relation, broadcast) —
    // null-safe on the keys, so a NULL key group is picked like any other
    val needs = plans.flatMap(_._3.values).distinct
    val needKeys = keyCols.indices.map(i => s"__nk$i")
    val keySchema = df.select(kcols: _*).schema
    val needSchema = StructType(
      keySchema.fields.zip(needKeys).map { case (f, nk) => f.copy(name = nk) } ++ Seq(
        StructField("__nc", IntegerType, nullable = false),
        StructField("__nr", LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    val needDf = spark.createDataFrame(
      needs.map(p => Row.fromSeq(p.key :+ p.cell :+ p.inRank)).asJava, needSchema)
    val on = keyCols.zip(needKeys).map { case (kc, nk) => col(kc) <=> col(nk) }
      .foldLeft(col(Cell) === col("__nc") && col("__rn") === col("__nr"))(_ && _)
    val w = Window.partitionBy(kcols :+ col(Cell): _*).orderBy(col("__pv"))
    val picked = celled
      .filter(col(Cell).isin(needs.map(_.cell).distinct.map(Integer.valueOf): _*))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .join(broadcast(needDf), on)
      .collect()
      .map(r => ((0 until k).map(r.get): Seq[Any],
        r.getAs[Int](Cell), r.getAs[Long]("__rn")) -> r.getAs[Double]("__pv"))
      .toMap
    plans.map { case (key, triples, locate) =>
      def valueAt(r: Long): Double = {
        val p = locate(r)
        picked((p.key, p.cell, p.inRank))
      }
      key -> triples.map { case (pos, rLo, rHi) => (pos, valueAt(rLo), valueAt(rHi)) }
    }
  }

  /** Several exact ntiles over the SAME relation (q172's RFM shape —
    * recency/frequency/monetary quintiles) sharing ONE boundary pass:
    * the layout aggregate summarizes every sort key at once, so k score
    * columns cost one boundary scan instead of k.
    */
  def exactNtiles(
      df: DataFrame, n: Int, keys: Seq[NtileKey], ties: Seq[Column]): DataFrame = {
    require(n > 0, s"ntile bucket count must be positive, got $n")
    require(keys.nonEmpty, "at least one ntile sort key required")
    val qvName = keys.indices.map(i => s"__qv$i")
    // Ckpt BEFORE the eager passes: the input lineage is consumed by the
    // boundary pass, by EVERY key's cell-count collect, and by the final
    // plan — without a materialization point each consumer recomputes
    // the caller's whole upstream plan. The per-key counts read the
    // materialized base directly, so key i's collect never replays keys
    // 1..i−1's window joins.
    val keyed = Ckpt(keys.zipWithIndex.foldLeft(df) { case (d, (k, i)) =>
      d.withColumn(qvName(i), CellLayout.surrogate(k.value, k.ascending))
    })
    val layouts = CellLayout.of(keyed, qvName.map(col), "Quantiles.exactNtile")
    keys.zip(layouts).zipWithIndex.foldLeft(keyed) { case (d, ((k, layout), i)) =>
      oneKey(d, keyed, n, k, col(qvName(i)), layout, ties)
    }.drop(qvName: _*)
  }

  private def oneKey(
      df: DataFrame, base: DataFrame, n: Int, k: NtileKey, qv: Column,
      layout: CellLayout, ties: Seq[Column]): DataFrame = {
    val Cell = CellLayout.Cell
    // exact per-cell rank offsets, counted off the MATERIALIZED base (cell
    // membership depends only on qv + bounds, not on other keys' outputs)
    val offset = layout.withPrefixes(
      layout.cellOf(df, qv), Nil, from = Some(layout.cellOf(base, qv)))
    // in-cell exact rank (original column order — the double cast never
    // decides a comparison) + offset = exact global rank
    val inCell = (if (k.ascending) k.value.asc else k.value.desc) +: ties.map(_.asc)
    val w = Window.partitionBy(col(Cell)).orderBy(inCell: _*)
    val ranked = offset
      .withColumn("__qr", row_number().over(w).cast("long") + col("__pnoff"))
    // standard ntile split: q = N div n, r = N mod n; buckets 1..r hold
    // q+1 rows, buckets r+1..n hold q
    val total = layout.rows
    val q = total / n
    val r = total % n
    // integral `div`, not `/`-then-floor: double division of two exact
    // longs can round a just-below-integer quotient UP across the floor
    val bucket =
      if (q == 0L) col("__qr") // N < n: one row per bucket (SQL ntile rule)
      else {
        val cut = (q + 1L) * r
        expr(
          s"CASE WHEN __qr <= ${cut}L THEN (__qr - 1L) DIV ${q + 1L}L + 1L " +
            s"ELSE ${r}L + (__qr - ${cut}L - 1L) DIV ${q}L + 1L END")
      }
    ranked
      .withColumn(k.out, bucket.cast("bigint"))
      .drop(Cell, "__pnoff", "__qr")
  }
}

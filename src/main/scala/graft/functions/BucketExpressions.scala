package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native cell assignment: the number of `bounds` entries strictly below
  * the input value — i.e. the cell id `graft.ops.CellLayout` assigns for
  * every exact rank, ntile, percentile and running sum.
  *
  * The composed-Column form (`bounds.map(b => when(v > b, 1, 0))
  * .reduce(_ + _)`) is O(cells) comparisons PER ROW and, worse, a
  * cells-deep expression tree: measured on the q309 pipeline at sf10
  * (500k docs), raising the cell count 16 → 64 → 256 scaled wall time
  * 3.0 → 8.9 → 17.2 s — the assignment expression, not the data, was the
  * cost; the layout's cap of 4096 cells would pay a 4096-branch chain per
  * row and likely blow the codegen method limit.
  * This expression is one `Arrays.binarySearch` over a broadcast-embedded
  * sorted double[] — O(log cells) per row, constant codegen size.
  *
  * Comparison semantics match the `when`-chain it replaces: bounds are
  * distinct and sorted (approxQuantile output), `Double.compare` agrees
  * with SQL `>` everywhere except the ±0.0 split, which both the key and
  * the bounds NORMALIZE away (+0.0 addition) so SQL-equal sort keys can
  * never straddle a cell boundary; NaN compares greater than every bound
  * (Spark's NaN-largest order) and lands in the last cell either way.
  *
  * `bounds` is a Seq, not an Array, ON PURPOSE: case-class equality on an
  * Array field is reference identity, which would make two semantically
  * identical CellBuckets never `semanticEquals` — defeating Catalyst's
  * common-subexpression elimination and exchange reuse for plans that
  * mention the same bucketing twice. The primitive array the search needs
  * is derived once, lazily.
  */
case class CellBucket(child: Expression, bounds: Seq[Double]) extends UnaryExpression {

  @transient private lazy val boundsArr: Array[Double] = bounds.toArray

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"cell_bucket expects a double value, got $t")
  }

  override def nullSafeEval(v: Any): Any =
    CellBucket.search(boundsArr, v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("cellBounds", boundsArr, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.CellBucket.search($b, $v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CellBucket {
  /** #bounds strictly below v (bounds pre-normalized by [[BucketExpressions
    * .cellBucket]]): exact match → its index (distinct bounds ⇒ everything
    * left of it is strictly below); miss → the insertion point.
    */
  def search(bounds: Array[Double], v: Double): Int = {
    val i = java.util.Arrays.binarySearch(bounds, v + 0.0)
    if (i >= 0) i else -(i + 1)
  }
}

object BucketExpressions {

  /** Idempotent per-session registration; exposed to SQL as `cell_bucket`.
    * The bounds argument must be a foldable array<double> literal — it is
    * evaluated once at plan construction into the embedded bounds.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cell_bucket", exprs => {
        require(exprs.length == 2, "cell_bucket(value, bounds_literal)")
        val boundsOk = exprs(1).foldable && (exprs(1).dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        })
        require(boundsOk,
          s"cell_bucket bounds must be a foldable array<double>, got ${exprs(1)}")
        val b = exprs(1).eval() match {
          case a: ArrayData => a.toDoubleArray()
          case other => sys.error(s"cell_bucket bounds literal evaluated to $other")
        }
        // normalize -0.0 exactly like the Column API, so the SQL path keeps
        // the documented 'normalized here AND per-value' contract
        CellBucket(exprs.head, scala.collection.immutable.ArraySeq.unsafeWrapArray(b.map(_ + 0.0)))
      }, "scala_udf")

  /** Column-API surface. `bounds` must be sorted and distinct; ±0.0 is
    * normalized here AND per-value inside the search so the embedded
    * array and the key agree with SQL comparison everywhere. `spark` must
    * be the session that OWNS the DataFrame being planned — registering
    * on SparkSession.active instead is the multi-session trap
    * Similarity.normalizedRel documents (the plan resolves against its
    * own session's registry, not the thread's active one).
    */
  def cellBucket(spark: SparkSession, v: Column, bounds: Array[Double]): Column = {
    register(spark)
    call_function("cell_bucket", v, lit(bounds.map(_ + 0.0)))
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate reuses one JVM-wide
  * session; per-suite sessions would pay Spark startup per file).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep catalog artifacts (bucketed-table tests) out of the repo dir
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$wh/metastore;create=true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def sf0001 = "/root/testdata/sf0.001"

  def sf01 = "/root/testdata/sf0.1"

  /** Runs `body` with the cell layout's cell count forced to `cells`
    * (derived from the row count otherwise).
    */
  def withCells[T](cells: Int)(body: => T): T =
    graft.ops.CellLayout.cellsForSpecs.withValue(Some(cells))(body)

  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath

  /** Pre-order walk of a physical plan that pierces the wrapper nodes
    * (AQE root, query stages, reused exchanges) — the ONE traversal every
    * plan-inspecting suite shares, so a new wrapper type gets added here
    * once instead of silently blinding whichever copy wasn't updated.
    */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(planNodes)
  }
}

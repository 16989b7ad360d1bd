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

  /** Runs `body` under a job group of its own and returns its result with
    * the number of Spark jobs it started. A marker job flushes the
    * listener bus before the count is read.
    */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${java.util.UUID.randomUUID()}"
    val flush = s"$group-flush"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `flush` => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val result = try body finally sc.clearJobGroup()
      // the bus delivers the marker job's start after every earlier event
      sc.setJobGroup(flush, flush)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (result, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

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

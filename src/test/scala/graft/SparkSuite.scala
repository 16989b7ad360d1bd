package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  /** Every file under `dir` (relative path → bytes), so a replaced part
    * file shows even when its contents are the same.
    */
  def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readAllBytes(p).toSeq).toMap
    finally files.close()
  }

  /** The names directly under `dir`, sorted (none if it does not exist). */
  def entries(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).map(_.toSeq.sorted).getOrElse(Nil)

  /** What [[stoppedAt]] throws to stop a commit. */
  final class Stopped(step: String) extends RuntimeException(s"stopped after $step")

  /** Runs `body`, stopping the first `ops.Publish` commit it makes right
    * after `step` (as a crash there would, minus the process exit).
    */
  def stoppedAt(step: String)(body: => Unit): Unit =
    intercept[Stopped] {
      graft.ops.Publish.afterStep.withValue(s => if (s == step) throw new Stopped(s))(body)
    }

  /** Whether `Publish.recover` after `step` rolls the commit forward (its
    * staging directory, with the retired copies, is already renamed away)
    * rather than back.
    */
  def rollsForward(step: String): Boolean = step.startsWith("staging ")

  /** Runs `commit` (one `ops.Publish` commit on `root`) once, copying
    * `root` after each of its steps as a crash there would leave it, then
    * checks that `Publish.recover` brings every copy to the files before
    * the commit or after it, with no residue. A crash before the journal
    * leaves an orphaned staging directory, which only the next commit
    * removes.
    */
  def everyCrashRecovers(root: String)(commit: => Unit): Unit = {
    import java.nio.file.{Files, Paths}
    val old = snapshot(root)
    val copies = scala.collection.mutable.ArrayBuffer[(String, String)]()
    graft.ops.Publish.afterStep.withValue { step =>
      val copy = Files.createTempDirectory("graft_crash_copy")
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.toVector.foreach { p =>
        val to = copy.resolve(Paths.get(root).relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
      } finally files.close()
      copies += step -> copy.toString
    }(commit)
    val fresh = snapshot(root)
    assert(fresh != old && copies.map(_._1).contains("journaled"))
    val preJournal = Set("staged", "accepted")
    for ((step, copy) <- copies) {
      assert(graft.ops.Publish.recover(spark, copy) == !preJournal(step), s"after $step")
      val (orphans, live) = snapshot(copy).partition(_._1.startsWith("_staging-"))
      assert(live == (if (rollsForward(step)) fresh else old), s"after $step")
      assert(orphans.nonEmpty == preJournal(step), s"after $step")
      graft.queries.QueryDef.rmTree(Paths.get(copy))
    }
  }

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

package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. `parent` is 0 for an op's root span. */
final case class Span(id: Int, name: String, opId: Long, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Executor work attributed to one span (via its job group). */
final class Counters {
  var jobs, tasks, runMs, cpuNs, shuffleReadB, shuffleWriteB, spillB, inputB = 0L
}

/** Span recorder for the one client thread. Disabled, `span` is a direct
  * call. Enabled, each span runs its body under its own Spark job group, so
  * a listener can charge executor work to it; Catalyst phase times reported
  * by the query-execution listener are charged by wall-clock containment.
  * Spans stay in memory until [[writeJsonl]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val FlushGroup = "perfbench-flush"
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 1
  private var op = -1L
  private val nano0 = System.nanoTime()
  private val wall0Ms = System.currentTimeMillis()

  val counters = new ConcurrentHashMap[Int, Counters]()
  /** (startMs, endMs) of every analysis/optimization/planning phase. */
  val phases = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  @volatile private var flushLatch: CountDownLatch = _
  @volatile private var flushJob = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == FlushGroup) flushJob = e.jobId
      else if (group != null && group.startsWith("span-")) {
        val id = group.stripPrefix("span-").toInt
        e.stageIds.foreach(s => stageSpan.put(s, id))
        val c = counters.computeIfAbsent(id, _ => new Counters)
        c.synchronized(c.jobs += 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != 0 && m != null) {
        val c = counters.computeIfAbsent(id, _ => new Counters)
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputB += m.inputMetrics.bytesRead
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == flushJob) flushLatch.countDown()
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.values.foreach(p => phases.add((p.startTimeMs, p.endTimeMs)))
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def beginOp(id: Long): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(s"span-$id", name)
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        done += Span(id, name, op, parent, t0, System.nanoTime())
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Wait until the listeners have seen every event posted so far: run a
    * marker job and wait for its end event, which the bus delivers after
    * everything queued before it.
    */
  def flush(): Unit = if (enabled) {
    flushLatch = new CountDownLatch(1)
    sc.setJobGroup(FlushGroup, FlushGroup)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    require(flushLatch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def wallMs(ns: Long): Double = wall0Ms + (ns - nano0) / 1e6

  /** Self time of each span: its duration minus its children's. */
  def selfNs: Map[Int, Long] = {
    val childNs = done.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    done.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Catalyst phase time per span: each phase goes to the innermost span
    * whose wall-clock interval holds the phase's midpoint.
    */
  def catalystMs: Map[Int, Double] = {
    val byStart = done.sortBy(s => (s.startNs, -s.durNs))
    val acc = mutable.HashMap[Int, Double]().withDefaultValue(0.0)
    phases.asScala.foreach { case (a, b) =>
      val mid = (a + b) / 2.0
      val holders = byStart.filter(s => wallMs(s.startNs) <= mid && mid <= wallMs(s.endNs))
      if (holders.nonEmpty) acc(holders.minBy(_.durNs).id) += (b - a)
    }
    acc.toMap
  }

  def writeJsonl(path: String): Unit = {
    val self = selfNs
    val w = new java.io.PrintWriter(path, "UTF-8")
    try done.foreach { s =>
      val c = Option(counters.get(s.id))
      w.println(s"""{"id":${s.id},"name":"${s.name}","op":${s.opId},"parent":${s.parent},""" +
        f""""start_ms":${wallMs(s.startNs)}%.3f,"end_ms":${wallMs(s.endNs)}%.3f,""" +
        s""""self_ns":${self(s.id)},"jobs":${c.map(_.jobs).getOrElse(0L)},""" +
        s""""tasks":${c.map(_.tasks).getOrElse(0L)}}""")
    }
    finally w.close()
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Single-query bench harness: `runMain graft.BenchOne <query> [sfDir]
  * [reps]` — same session config as Bench, prints per-rep seconds so
  * plan changes can be measured without a full battery run, and each
  * Spark job's wall time to stderr. With `SPARK_GRAFT_EXPLAIN` set it
  * prints the query's optimized and formatted physical plans instead of
  * running it.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = LocalSession.build()
    // per-job wall times to stderr: they show which eager action (Ckpt
    // materialization, boundary scan, bounded collect, final noop) owns a
    // multi-job query's seconds
    spark.sparkContext.addSparkListener(new SparkListener {
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, System.nanoTime())
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t0 = starts.remove(e.jobId)
        if (t0 != null)
          System.err.println(f"[job] id=${e.jobId}%3d ${(System.nanoTime() - t0.longValue) / 1e9}%6.2f s")
      }
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    val host0 = Host.sample()
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
      val qe = fn(spark, sfDir).queryExecution
      println("[benchone] === optimized ===")
      println(qe.optimizedPlan.toString)
      println("[benchone] === formatted physical ===")
      println(qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    } else {
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[benchone] $name rep$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    println(Host.line("bench_one", host0, Host.sample()))
    spark.stop()
  }
}

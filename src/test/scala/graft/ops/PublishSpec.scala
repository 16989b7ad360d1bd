package graft.ops

import java.nio.file.{Files, Path, Paths}

import graft.SparkSuite
import graft.pipeline.Weather

/** The commit protocol of [[Publish]]: after a fault or crash at any step
  * of a commit, [[Publish.recover]] leaves the old contents or the new
  * ones, never a mix. Plain-file commits are stopped after each step in
  * turn; Weather.run runs once, with its root copied as a crash after
  * each step would leave it. The index writes get the same copies in
  * Extended71Spec, on the indexes its lifecycle tests already build.
  */
class PublishSpec extends SparkSuite {

  private val tables = Seq("daily_weather", "monthly_weather", "weather_history")

  private def put(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes("UTF-8"))
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** A Weather-shaped root: three tables of one part file each. */
  private def threeTables(root: String, run: String): Unit =
    tables.foreach(t => put(Paths.get(root, t, s"part-$run.parquet"), s"$t $run"))

  /** The steps a commit passes, in order. */
  private def steps(commit: => Unit): Seq[String] = {
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    Publish.afterStep.withValue(seen += _)(commit)
    seen.toSeq
  }

  test("replace on a three-table root: a fault after any step, then recover, leaves the old tables or the new ones") {
    def commit(root: String) = Publish(spark, root, Publish.Replace, tables) { stage =>
      tables.foreach(t => put(Paths.get(stage, t, "part-new.parquet"), s"$t new"))
    }(_ => ())
    val ref = tmp("publish_ref")
    threeTables(ref, "old")
    val all = steps(commit(ref))
    assert(all.count(_.startsWith("retired ")) == 3 && all.count(_.startsWith("moved ")) == 3)
    val fresh = snapshot(ref)
    for (step <- all) {
      val root = tmp("publish_replace")
      threeTables(root, "old")
      val old = snapshot(root)
      stoppedAt(step)(commit(root))
      Publish.recover(spark, root)
      assert(snapshot(root) == (if (rollsForward(step)) fresh else old), s"after $step")
      assert(entries(root) == tables, s"residue after $step: ${entries(root)}")
    }
  }

  test("append with a new partition directory: a fault after any step, then recover, leaves the old files or the new ones") {
    def seed(root: String): Unit = {
      put(Paths.get(root, "invfile", "cent_id=1", "part-old.parquet"), "old 1")
      put(Paths.get(root, "pairs", "part-old.parquet"), "old pairs")
    }
    def commit(root: String) = Publish(spark, root, Publish.Append, Seq("pairs", "invfile")) { stage =>
      put(Paths.get(stage, "pairs", "part-new.parquet"), "new pairs")
      put(Paths.get(stage, "pairs", "_SUCCESS"), "")
      put(Paths.get(stage, "invfile", "cent_id=1", "part-new.parquet"), "new 1")
      put(Paths.get(stage, "invfile", "cent_id=2", "part-new.parquet"), "new 2")
    }(_ => ())
    val ref = tmp("publish_ref")
    seed(ref)
    val all = steps(commit(ref))
    assert(all.count(_.startsWith("moved ")) == 3, all)
    val fresh = snapshot(ref)
    assert(!fresh.contains("pairs/_SUCCESS") && fresh.contains("invfile/cent_id=2/part-new.parquet"))
    for (step <- all) {
      val root = tmp("publish_append")
      seed(root)
      val old = snapshot(root)
      stoppedAt(step)(commit(root))
      Publish.recover(spark, root)
      assert(snapshot(root) == (if (rollsForward(step)) fresh else old), s"after $step")
      assert(entries(root) == Seq("invfile", "pairs"), s"residue after $step: ${entries(root)}")
      assert(entries(s"$root/invfile") ==
        (if (rollsForward(step)) Seq("cent_id=1", "cent_id=2") else Seq("cent_id=1")), s"after $step")
    }
  }

  test("recover leaves a staging directory orphaned before its journal; the next commit removes it") {
    val root = tmp("publish_orphan")
    threeTables(root, "old")
    put(Paths.get(root, "_staging-orphan", "daily_weather", "part-x.parquet"), "orphan")
    assert(!Publish.recover(spark, root))
    assert(entries(root).contains("_staging-orphan"))
    Publish(spark, root, Publish.Replace, Seq("daily_weather")) { stage =>
      put(Paths.get(stage, "daily_weather", "part-new.parquet"), "new")
    }(_ => ())
    assert(entries(root) == tables)
  }

  test("every step of Weather.run's commit recovers to the old tables or the new ones") {
    val out = tmp("publish_weather")
    val conf = Weather.Conf(writeHistory = true)
    Weather.run(spark, resource("weatherHistory_valid.csv"), out, conf)
    everyCrashRecovers(out)(Weather.run(spark, resource("weatherHistory_valid.csv"), out, conf))
    assert(entries(out) == tables)
  }
}

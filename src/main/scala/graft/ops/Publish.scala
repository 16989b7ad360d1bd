package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one crash-safe publish for every persisted output: Weather's tables
  * and the IVF index's components. A commit replaces, or appends to, named
  * component directories under a root:
  *
  *  1. the caller's `write` stages every component under
  *     `root/_staging-<uuid>/<name>`;
  *  2. the caller's `accept` runs on the staged tree (it throws to refuse);
  *  3. a journal naming the commit lands at `root/_journal` (written in
  *     the staging directory, then renamed);
  *  4. the components move in, the staging directory (which also holds the
  *     retired copies) is renamed to `<staging>-done` and deleted, and the
  *     journal is deleted.
  *
  * A failure in steps 1–3 deletes the staging directory and leaves the
  * root as it was. After a failure or crash once the journal exists,
  * [[recover]] rolls the commit back while the staging directory is still
  * there, and only finishes the clean-up once it has been renamed, so a
  * reader that runs [[recover]] sees all of a commit or none of it, and the
  * root holds no journal, staging directory or checksum sibling afterwards.
  * Every commit runs [[recover]] first and then deletes the staging
  * directories that a crash before step 3 orphaned; readers never do,
  * since a writer may be staging. One writer per root at a time; a reader
  * that lists a component while it moves may see either side of it.
  *
  * The live paths stay `root/<name>`, so readers that open them directly
  * (`spark.read.parquet(s"$root/<name>")`) need no change.
  */
object Publish {

  sealed trait Kind

  /** Each live component is retired into the staging directory and the
    * staged one takes its place.
    */
  case object Replace extends Kind

  /** Each staged data file moves to the same relative path under the live
    * component, creating partition directories as needed; files whose path
    * has a segment starting with `_` or `.` (a writer's `_SUCCESS`) stay
    * behind. Every live component must exist.
    */
  case object Append extends Kind

  private val Journal = "_journal"
  private val Staging = "_staging-"
  private val Retired = "_retired"
  private val Done = "-done"

  /** Called with each step's name as a commit passes it ("staged",
    * "accepted", "journaled", "retired <c>", "moved <c>", "staging retired",
    * "staging deleted"); specs throw from it to stop a commit there.
    */
  private[graft] val afterStep = new scala.util.DynamicVariable[String => Unit](_ => ())

  /** Commits `components` under `root` (steps above). `write` gets the
    * staging directory and must create `<staging>/<name>` for every
    * component; `accept` gets it too, once every write has landed.
    */
  def apply(spark: SparkSession, root: String, kind: Kind, components: Seq[String])(
      write: String => Unit)(accept: String => Unit): Unit = {
    val r = new Path(root)
    val fs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, root)
    Option(fs.globStatus(new Path(r, s"$Staging*"))).toSeq.flatten
      .foreach(s => fs.delete(s.getPath, true))
    val stage = new Path(r, s"$Staging${java.util.UUID.randomUUID()}")
    val entries = try {
      write(stage.toString)
      afterStep.value("staged")
      components.foreach { c =>
        if (!fs.exists(new Path(stage, c))) throw new java.io.IOException(s"$c was not staged under $stage")
      }
      accept(stage.toString)
      afterStep.value("accepted")
      val entries = kind match {
        case Replace => components
        case Append => components.flatMap(c => stagedFiles(fs, r, stage, c))
      }
      val tmp = new Path(stage, Journal)
      val out = fs.create(tmp, false)
      try out.write((s"$kind ${stage.getName}" +: entries).mkString("", "\n", "\n").getBytes(UTF_8))
      finally out.close()
      move(fs, tmp, new Path(r, Journal))
      entries
    } catch {
      case e: Throwable => fs.delete(stage, true); throw e
    }
    afterStep.value("journaled")
    kind match {
      case Replace =>
        fs.mkdirs(new Path(stage, Retired))
        entries.foreach { c =>
          if (fs.exists(new Path(r, c))) {
            move(fs, new Path(r, c), new Path(stage, s"$Retired/$c"))
            afterStep.value(s"retired $c")
          }
          move(fs, new Path(stage, c), new Path(r, c))
          afterStep.value(s"moved $c")
        }
      case Append =>
        entries.foreach { p =>
          fs.mkdirs(new Path(r, p).getParent)
          move(fs, new Path(stage, p), new Path(r, p))
          afterStep.value(s"moved $p")
        }
    }
    val done = new Path(r, stage.getName + Done)
    move(fs, stage, done)
    afterStep.value("staging retired")
    fs.delete(done, true)
    afterStep.value("staging deleted")
    fs.delete(new Path(r, Journal), false)
  }

  /** Rolls back (or, past its staging rename, finishes) the commit whose
    * journal is under `root`. One file-exists check when there is none.
    * Returns whether there was one.
    */
  def recover(spark: SparkSession, root: String): Boolean = {
    val r = new Path(root)
    val fs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val journal = new Path(r, Journal)
    if (!fs.exists(journal)) return false
    val in = fs.open(journal)
    val lines = try new String(in.readAllBytes(), UTF_8).split("\n").toSeq finally in.close()
    val Array(kind, stageName) = lines.head.split(" ", 2)
    val stage = new Path(r, stageName)
    if (fs.exists(stage)) {
      System.err.println(s"[graft] rolling back an interrupted $kind commit under $root")
      lines.tail.reverse.foreach { e =>
        val live = new Path(r, e)
        if (kind == Replace.toString) {
          val retired = new Path(stage, s"$Retired/$e")
          if (fs.exists(retired)) {
            fs.delete(live, true)
            move(fs, retired, live)
          } else if (!fs.exists(new Path(stage, e))) fs.delete(live, true)
        } else if (!fs.exists(new Path(stage, e)) && fs.delete(live, false)) {
          // drop the partition directories this commit created
          val component = new Path(r, e.takeWhile(_ != '/'))
          var dir = live.getParent
          while (dir != component && fs.listStatus(dir).isEmpty) {
            fs.delete(dir, false)
            dir = dir.getParent
          }
        }
      }
      fs.delete(stage, true)
    } else fs.delete(new Path(r, stageName + Done), true)
    fs.delete(journal, false)
    true
  }

  /** The data files staged under component `c`, as paths relative to the
    * staging directory (so also to the root).
    */
  private def stagedFiles(fs: FileSystem, root: Path, stage: Path, c: String): Seq[String] = {
    if (!fs.exists(new Path(root, c))) throw new java.io.IOException(s"cannot append to missing ${new Path(root, c)}")
    val base = fs.makeQualified(stage).toUri.getPath + "/"
    val it = fs.listFiles(new Path(stage, c), true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .map(p => fs.makeQualified(p).toUri.getPath.stripPrefix(base))
      .filterNot(_.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
      .toVector
    files.find(p => fs.exists(new Path(root, p)))
      .foreach(p => throw new java.io.IOException(s"${new Path(root, p)} already exists"))
    files
  }

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"could not move $from to $to")
}

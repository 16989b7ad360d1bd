package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class OutputCheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private lazy val work = Files.createTempDirectory("perfbench-spec").toString

  override def afterAll(): Unit = {
    Workload.rmTree(work)
    spark.stop()
  }

  private def ctx(traced: Boolean) = new Ctx(spark, work, 9, new Tracer(spark, traced))

  test("a corrupted sink output counts as a failed op, never as a fast one") {
    val wl = new WeatherEtl(days = 70)
    wl.datagen(ctx(false))
    val ops = wl.ops(9).take(3).toSeq
    // op 2 runs the traced, layer-by-layer form: it must land the same data
    val done = ops.map { op =>
      Main.Done(op, wl.run(ctx(op.id == 2), op), 0.1, None, timed = true)
    }
    val clean = wl.check(ctx(false), done.map(d => (d.op, d.result)))
    assert(clean.badOps.isEmpty)
    assert(Main.outcome(done, done, clean) == Main.Outcome(3, 0, correct = true))

    // drop one month from op 1's monthly sink
    val monthly = s"$work/out/op-1/monthly_weather"
    val kept = spark.read.parquet(monthly).orderBy("Month").offset(1)
    kept.write.parquet(s"$work/tmp-monthly")
    Workload.rmTree(monthly)
    Files.move(java.nio.file.Paths.get(s"$work/tmp-monthly"), java.nio.file.Paths.get(monthly))

    val checked = wl.check(ctx(false), done.map(d => (d.op, d.result)))
    assert(checked.badOps == Set(1L))
    assert(Main.outcome(done, done, checked) == Main.Outcome(3, 1, correct = false))
  }

  test("a thrown op is failed, and a failed warm-up op makes the run incorrect") {
    val op = Op(0, "pipeline", 0)
    val threw = Main.Done(op, OpResult(0), 0.01, Some("boom"), timed = false)
    val ok = Main.Done(op.copy(id = 1), OpResult(10), 1.0, None, timed = true)
    assert(Main.outcome(Seq(threw, ok), Seq(ok), Checked(Set.empty)) == Main.Outcome(1, 0, correct = false))
    assert(Main.outcome(Seq(ok), Seq(ok), Checked(Set.empty, guardsOk = false)).correct == false)
  }

  test("the star tables are the same on every generation") {
    def digests = Gen.starTables(spark).toSeq.sortBy(_._1).map { case (n, df) =>
      val cols = Workload.digestCols(df)
      n -> df.agg(cols.head, cols.tail: _*).head().toSeq
    }
    val a = digests
    assert(a == digests)
    assert(a.map { case (n, r) => n -> r.head } ==
      Gen.starRows.toSeq.filter(t => a.exists(_._1 == t._1)).sortBy(_._1))
  }
}

package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def csvBytes(seed: Long, days: Int): Array[Byte] = {
    val f = Files.createTempFile("weather", ".csv")
    try { Gen.weatherCsv(f.toString, seed, days); Files.readAllBytes(f) }
    finally Files.delete(f)
  }

  test("one seed gives a byte-identical weather CSV; another seed does not") {
    val a = csvBytes(7, 60)
    assert(java.util.Arrays.equals(a, csvBytes(7, 60)))
    assert(!java.util.Arrays.equals(a, csvBytes(8, 60)))
  }

  test("the weather CSV holds what the generator reports") {
    val f = Files.createTempFile("weather", ".csv")
    try {
      val info = Gen.weatherCsv(f.toString, 3, 90)
      val lines = Files.readAllLines(f)
      assert(lines.size - 1 == info.rows)
      assert(info.days == 90 && info.months == 3)
      assert(info.rows > 90 * 24) // repeated records on top of the hourly rows
      assert(lines.get(1).startsWith("1970-01-01 00:00:00.000 +0100,"))
    } finally Files.delete(f)
  }

  test("one seed gives identical documents and planted pairs") {
    val (a, ia) = Gen.documents(5, 300)
    val (b, ib) = Gen.documents(5, 300)
    assert(a == b && ia == ib)
    assert(ia.docs == 300 && ia.distinctTexts == 300 - ia.exactPairs)
    assert(ia.planted.size == ia.exactPairs + ia.nearPairs)
    assert(Gen.documents(6, 300)._1 != a)
  }

  test("one seed gives the same op stream, in blocks that hold the mix") {
    val mix = Seq("a" -> 3, "b" -> 1)
    val s1 = Workload.blocks(11, mix).take(40).toSeq
    assert(s1 == Workload.blocks(11, mix).take(40).toSeq)
    assert(s1 != Workload.blocks(12, mix).take(40).toSeq)
    s1.grouped(4).foreach(b => assert(b.count(_ == "a") == 3))
  }
}

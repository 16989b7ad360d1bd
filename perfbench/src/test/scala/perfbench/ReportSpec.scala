package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class ReportSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def listed(key: String): Seq[(String, String)] = {
    val root = mapper.readTree(new java.io.File("../BENCHMARK.json"))
    root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  test("the catalog is the metric list BENCHMARK.json declares") {
    assert(Report.endToEnd == listed("end_to_end"))
    assert(Report.perLayer == listed("per_layer"))
  }

  test("the result line names every metric with its unit") {
    for (catalog <- Seq(Report.endToEnd, Report.perLayer)) {
      val line = Report.resultLine(correct = true, 7, 0, catalog, Map(catalog.head._1 -> 1.5))
      val r = mapper.readTree(line)
      assert(r.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
      val ms = r.get("metrics")
      assert(ms.fieldNames().asScala.toSeq == catalog.map(_._1))
      catalog.foreach { case (n, u) =>
        assert(ms.get(n).get("unit").asText == u)
        assert(ms.get(n).get("value").isNumber)
      }
      assert(ms.get(catalog.head._1).get("value").asDouble == 1.5)
    }
  }

  test("the workloads BENCHMARK.json runs exist") {
    val names = mapper.readTree(new java.io.File("../BENCHMARK.json")).get("workloads")
      .elements().asScala.map(_.get("name").asText).toSeq
    assert(names.nonEmpty && names.forall(Workload.names.contains))
  }
}

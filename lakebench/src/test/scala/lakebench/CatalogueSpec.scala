package lakebench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json names exactly the metrics the benchmark reports. */
class CatalogueSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def listed(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("end-to-end metrics") {
    assert(listed("end_to_end") == LakeBench.EndToEnd)
  }

  test("per-layer metrics: the 115-metric catalogue") {
    assert(Layers.All.size == 115 && Layers.All.map(_._1).distinct.size == 115)
    assert(listed("per_layer") == Layers.All)
  }

  test("workloads") {
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Seq("ingest", "lakehouse"))
  }
}

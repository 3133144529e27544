package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The metrics the benchmark prints are the ones BENCHMARK.json lists. */
class CatalogueSpec extends AnyFunSuite {
  private val spec: JsonNode = new ObjectMapper().readTree(
    new java.io.File(sys.props.getOrElse("perfbench.spec", "../BENCHMARK.json")))

  private def entries(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(n =>
      n.get("name").asText() -> n.get("unit").asText()).toSeq

  test("per-layer metrics match BENCHMARK.json, names and units") {
    assert(entries("per_layer") == Report.perLayer)
  }

  test("end-to-end metrics match BENCHMARK.json, names and units") {
    assert(entries("end_to_end") == Main.EndToEndMetrics)
  }

  test("workloads match BENCHMARK.json") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
    assert(names.nonEmpty)
    names.foreach(n => assert(Main.workload(n).name == n))
  }

  test("JSON rendering escapes and keeps digits") {
    assert(Json.render(Json.obj("a\"b" -> 1.25, "c" -> Seq(1L, None))) ==
      """{"a\"b":1.25,"c":[1,null]}""")
    assert(Json.render(0.1 + 0.2) == "0.30000000000000004")
  }
}

package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `BENCHMARK.json` at the repository root declares exactly the metrics and
  * workloads the harness produces. */
class MetricsSpec extends AnyFunSuite {
  private lazy val spec = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def defs(key: String): Seq[Metrics.Def] =
    spec.get(key).elements().asScala.toSeq.map(m =>
      Metrics.Def(m.get("name").asText(), m.get("unit").asText(), m.get("better").asText()))

  test("end-to-end and per-layer metrics match the harness") {
    assert(defs("end_to_end") == Metrics.endToEnd)
    assert(defs("per_layer") == Metrics.perLayer)
    assert(Metrics.endToEnd.exists(d => d.name == "setup_s" && d.unit == "s" && d.better == "lower"))
  }

  test("every declared workload is one the harness runs") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
    assert(names.nonEmpty && names.forall(Main.Workloads.contains))
  }

  test("setup_s has the largest bound") {
    val bounds = spec.get("end_to_end").elements().asScala
      .map(m => m.get("name").asText() -> m.get("bound").asDouble()).toMap
    assert(bounds("setup_s") == bounds.values.max)
  }
}

package servebench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the traced run's metric list must agree. */
class ContractSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(
    new java.io.File(sys.props("user.dir"), "../BENCHMARK.json"))

  test("every per-layer metric in BENCHMARK.json is printed by the traced run, with its unit") {
    val listed = spec.get("per_layer").elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed == PerLayer.all)
  }

  test("a traced report carries exactly the per-layer list") {
    val r = new Report
    r.put("exec.jobs", 3, "count")
    PerLayer.fill(r)
    assert(r.metrics.keys.toSeq == PerLayer.all.map(_._1))
    assert(r.metrics("exec.jobs")._1 == 3.0 && r.metrics("search.jobs.bm25")._1 == 0.0)
    val bad = new Report
    bad.put("not.listed", 1, "ms")
    assertThrows[IllegalArgumentException](PerLayer.fill(bad))
  }
}

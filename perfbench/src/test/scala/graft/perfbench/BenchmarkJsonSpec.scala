package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json at the repository root declares what the harness
  * prints: the same metric names, units and workloads. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def defs(key: String) = json.get(key).elements().asScala
    .map(n => Metrics.Def(n.get("name").asText, n.get("unit").asText)).toSeq

  test("end-to-end and per-layer metrics match the harness") {
    assert(defs("end_to_end") == Metrics.EndToEnd)
    assert(defs("per_layer") == Metrics.PerLayer)
  }

  test("workloads match run.py's") {
    val names = json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    val runPy = scala.io.Source.fromFile("run.py").mkString
    assert(names.nonEmpty)
    assert(runPy.contains(names.map(n => "\"" + n + "\"").mkString("WORKLOADS = (", ", ", ")")))
  }
}

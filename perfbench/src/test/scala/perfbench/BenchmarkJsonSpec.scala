package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json (one directory up) names exactly the metrics and
  * workloads the benchmark prints and runs. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private lazy val spec: JsonNode = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def entries(key: String): Seq[JsonNode] = spec.get(key).elements().asScala.toSeq

  test("end-to-end metrics match what an untraced run prints") {
    assert(entries("end_to_end").map(m => m.get("name").asText() -> m.get("unit").asText()) ==
      Main.EndToEnd)
    val bounds = entries("end_to_end").map(m => m.get("name").asText() -> m.get("bound").asDouble()).toMap
    assert(bounds.values.forall(b => b > 0 && b <= 0.25))
    assert(bounds("setup_s") == bounds.values.max)
  }

  test("per-layer metrics match what a traced run prints") {
    assert(entries("per_layer").map(m => (m.get("name").asText(), m.get("unit").asText(),
      m.get("better").asText())) == Layers.all)
    assert(Layers.all.map(_._1).distinct.size == Layers.all.size)
    assert(Layers.all.size <= 128)
  }

  test("workloads match the ones the benchmark runs") {
    assert(entries("workloads").map(_.get("name").asText()).toSet == Main.Workloads.keySet)
  }

  test("the interaction map covers every per-layer metric and names real ones") {
    val map = new ObjectMapper().readTree(new java.io.File("interactions.json"))
    val es = map.get("entries").elements().asScala.toSeq
    val prefixes = es.flatMap(_.get("per_layer").elements().asScala.map(_.asText()))
    Layers.all.map(_._1).filterNot(n => n.startsWith("bench.") || n.startsWith("trace."))
      .foreach(n => assert(prefixes.exists(n.startsWith), s"$n has no entry"))
    val e2e = Main.EndToEnd.map(_._1).toSet
    es.foreach { e =>
      e.get("moves").elements().asScala.foreach { m =>
        assert(e2e(m.get("metric").asText()) && Main.Workloads.contains(m.get("workload").asText()))
      }
      e.get("no_change").elements().asScala.foreach(w => assert(Main.Workloads.contains(w.asText())))
    }
  }
}

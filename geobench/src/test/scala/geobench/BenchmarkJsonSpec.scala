package geobench

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json, the benchmark's contract, names exactly the metrics a
  * run prints. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File("../BENCHMARK.json"))

  private def metrics(key: String): Seq[(String, String)] = {
    val a = json.get(key)
    (0 until a.size).map(i => a.get(i).get("name").asText() -> a.get(i).get("unit").asText())
  }

  test("BENCHMARK.json lists the end-to-end and per-layer metrics a run prints") {
    assert(metrics("end_to_end") == Metrics.EndToEnd)
    assert(metrics("per_layer") == Metrics.PerLayer)
  }

  test("every workload in BENCHMARK.json is one Main runs") {
    val w = json.get("workloads")
    assert((0 until w.size).map(w.get(_).get("name").asText()).forall(Main.Workloads.contains))
  }
}

package servbench

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json must name exactly the metrics the benchmark prints. */
class BenchmarkSpec extends AnyFunSuite {

  private val spec = Decode.json(new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8"))
    .asInstanceOf[scala.collection.Map[String, Any]]

  private def metrics(key: String): Vector[(String, String, String)] =
    spec(key).asInstanceOf[Vector[Any]].map { m0 =>
      val m = m0.asInstanceOf[scala.collection.Map[String, Any]]
      (m("name").toString, m("unit").toString, m("better").toString)
    }

  test("end-to-end metrics match the run's output") {
    assert(metrics("end_to_end") == Main.e2eMetrics)
  }

  test("per-layer metrics match the traced run's output") {
    assert(metrics("per_layer") == Layers.metrics)
  }
}

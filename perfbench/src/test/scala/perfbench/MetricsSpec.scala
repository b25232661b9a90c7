package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json, at the checkout root, declares the metrics the runs
  * print; the two lists must not drift apart.
  */
class MetricsSpec extends AnyFunSuite {
  private lazy val declared = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def listed(key: String): Seq[(String, String)] =
    declared.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("BENCHMARK.json lists exactly the metrics the benchmark reports") {
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.PerLayer)
    assert(declared.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq == Main.Workloads)
  }

  test("every metric name and unit is well formed and used once") {
    val all = Metrics.EndToEnd ++ Metrics.PerLayer
    all.foreach { case (n, u) => assert(Stats.validName(n), n); assert(Stats.validUnit(u), u) }
    assert(all.map(_._1).distinct.size == all.size)
    assert(Metrics.PerLayer.size <= 128)
    assert(Metrics.EndToEnd.contains("setup_s" -> "s"))
  }

  test("completing a report fills unexercised layers and rejects strays") {
    val one = Seq(Stats.Metric("spark.gc_s", 0.5, "s"))
    val full = Metrics.complete(one, Metrics.PerLayer, fillZero = true)
    assert(full.map(_.name) == Metrics.PerLayer.map(_._1))
    assert(full.find(_.name == "spark.gc_s").get.value == 0.5)
    assertThrows[IllegalArgumentException](
      Metrics.complete(Seq(Stats.Metric("spark.gc_s", 1, "ms")), Metrics.PerLayer, fillZero = true))
    assertThrows[IllegalStateException](Metrics.complete(Nil, Metrics.EndToEnd, fillZero = false))
  }
}

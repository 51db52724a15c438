package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private def all = Metrics.EndToEnd ++ Metrics.PerLayer

  test("metric names and units are well formed and unique") {
    assert(all.forall(_.name.matches(Metrics.NamePattern)), all.map(_.name))
    assert(all.forall(_.unit.matches(Metrics.UnitPattern)), all.map(_.unit))
    assert(all.map(_.name).distinct.length == all.length)
    assert(Metrics.EndToEnd.length <= 16)
    assert(Metrics.PerLayer.length <= 128)
    assert(Metrics.EndToEnd.exists(d => d.name == "setup_s" && d.unit == "s"))
  }

  test("BENCHMARK.json names exactly the reported metrics, with their units") {
    val file = Paths.get("..", "BENCHMARK.json")
    assume(Files.exists(file), "BENCHMARK.json sits at the checkout root")
    val json = JsonMethods.parse(new String(Files.readAllBytes(file), "UTF-8"))
    def listed(key: String): Seq[(String, String)] = (json \ key) match {
      case JArray(xs) => xs.map(x =>
        ((x \ "name").asInstanceOf[JString].s, (x \ "unit").asInstanceOf[JString].s))
      case _ => Nil
    }
    assert(listed("end_to_end") == Metrics.EndToEnd.map(d => (d.name, d.unit)))
    assert(listed("per_layer") == Metrics.PerLayer.map(d => (d.name, d.unit)))
    val workloads = (json \ "workloads") match {
      case JArray(xs) => xs.map(x => (x \ "name").asInstanceOf[JString].s)
      case _ => Nil
    }
    assert(workloads.nonEmpty && workloads.forall(Main.Workloads.contains))
  }

  test("the end-to-end result line stays under 2000 characters") {
    val v = -1.2345678901234567e-300 // the longest rendering a double gets
    val line = JsonMethods.compact(JsonMethods.render(Metrics.resultLine(
      correct = true, Int.MaxValue, Int.MaxValue, Metrics.EndToEnd.map(_ -> v))))
    assert(line.length < 2000, line.length)
    assert(JsonMethods.parse(line) \ "metrics" \ "setup_s" \ "value" == JDouble(v))
  }
}

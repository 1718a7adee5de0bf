package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Every metric and workload name the benchmark prints is declared in the
  * repository's BENCHMARK.json, with the same unit, and the reverse.
  */
class NamesSpec extends AnyFunSuite {
  private val spec = parse(new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8"))

  private def declared(key: String): Map[String, String] = (spec \ key) match {
    case JArray(ms) => ms.map { m =>
      val JString(n) = m \ "name": @unchecked
      val JString(u) = m \ "unit": @unchecked
      n -> u
    }.toMap
    case other => fail(s"$key: $other")
  }

  test("workloads") {
    val JArray(ws) = spec \ "workloads": @unchecked
    val names = ws.map(w => (w \ "name").asInstanceOf[JString].s).toSet
    assert(names === Main.Workloads.keySet)
  }

  test("end-to-end metrics") {
    assert(Main.EndToEnd.toMap === declared("end_to_end"))
  }

  test("per-layer metrics") {
    assert(Layers.all.toMap === declared("per_layer"))
    assert(Layers.names.distinct.size === Layers.names.size)
  }
}

package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins `Bench.stdoutLine`: Bench's stdout is read from a tail capture,
  * so the line must stay within its budget and parse as JSON at the
  * full query count. */
class BenchLineSpec extends AnyFunSuite {

  private val names = (0 until 428).map(i => f"synthetic_query_name_$i%03d")
  private val timings = names.zipWithIndex.map { case (n, i) => n -> (i * 0.37 % 11.0) }

  test("428 queries fit the budget, slowest first, and parse as JSON") {
    val line = Bench.stdoutLine(123.4567, 1, names.size, Nil, "/data/sf0.1", timings)
    assert(line.length <= 1500)
    val js = new ObjectMapper().readTree(line)
    assert(js.get("n_queries").asInt == 428 && js.get("n_failed").asInt == 0)
    assert(js.get("value").asDouble == 123.457 && js.get("sf").asText == "/data/sf0.1")
    val shown = js.get("queries").fieldNames().asScala.toSeq
    assert(shown.length > 15)
    assert(shown == timings.sortBy(-_._2).map(_._1).take(shown.length))
  }

  test("failed names come first and the counts stay exact when all fail") {
    val line = Bench.stdoutLine(0.0, 3, names.size, names, "/data/sf0.1", Nil)
    assert(line.length <= 1500)
    val js = new ObjectMapper().readTree(line)
    assert(js.get("n_failed").asInt == 428 && js.get("reps").asInt == 3)
    assert(js.get("failed").size > 0 && js.get("failed").get(0).asText == names.head)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s stdout line fits the driver's 2,000-character tail with
  * room for the runner's epilogue, at the registry's size and a
  * worst-case time per query, and stays valid JSON. */
class BenchLineSpec extends AnyFunSuite {
  test("153 queries of 9,999 ms: the line is at most 1,900 chars and parses as JSON") {
    val results = (1 to 153).map(i => f"q$i%02d_query_$i" -> 9.999).toMap
    val line = Bench.line(results.values.sum, results, Seq("q07_query_7"), "/data/graft/sf0.1")
    assert(line.length <= 1900, s"${line.length} chars")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.fieldNames().next() == "metric")
    assert(json.get("metric").asText == "total" && json.get("unit").asText == "sec")
    assert(math.abs(json.get("value").asDouble - 153 * 9.999) < 1e-6)
    val qs = json.get("queries")
    assert(qs.size == 153 && qs.get("q07").asLong == 9999 && qs.get("q153").asLong == 9999)
    assert(json.get("failed").get(0).asText == "q07")
    assert(json.get("sf").asText == "/data/graft/sf0.1")
  }
}

package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout contract and the failure descriptions the entry
  * points report. */
class HarnessSpec extends AnyFunSuite {

  test("Bench's last stdout line parses and fits 2,000 chars with every query failing") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val line = Bench.summary(names.map(_ -> -1.0), 3, names, "BENCH.json")
    assert(line.length <= 2000, s"${line.length} chars")
    val json = new ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "total")
    assert(json.get("n").asInt == names.size)
    assert(json.get("errors").asInt == names.size)
    assert(json.get("first_errors").size == 5)
    assert(json.get("out").asText == "BENCH.json")
  }

  test("Bench summary: total and geomean of the successful medians") {
    val json = new ObjectMapper().readTree(
      Bench.summary(Seq("a" -> 2.0, "b" -> 8.0, "c" -> -1.0), 1, Seq("c"), "out.json"))
    assert(json.get("value").asDouble == 10.0)
    assert(math.abs(json.get("geomean").asDouble - 4.0) < 1e-12)
    assert(json.get("errors").asInt == 1)
  }

  test("describe gives the exception class and first message line") {
    assert(Harness.describe(new IllegalStateException("boom\n  at frame")) ==
      "java.lang.IllegalStateException: boom")
    assert(Harness.describe(new RuntimeException()) == "java.lang.RuntimeException: ")
  }

  test("jsonString escapes quotes, backslashes and control characters") {
    val raw = "a\"b\\c\nd\te\u0001"
    assert(new ObjectMapper().readTree(Harness.jsonString(raw)).asText == raw)
  }
}

package graft

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite

/** Bench's JSON lines are parsed by machines; their numbers must not
  * follow the JVM's default locale, and their strings must be escaped.
  */
class BenchJsonSpec extends AnyFunSuite {
  test("jnum keeps a '.' decimal point under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(f"${1.5}%.2f" == "1,50", "the default locale is not comma-decimal")
      assert(Bench.jnum(1.5) == "1.500")
      assert(Bench.jnum(1234.567, 2) == "1234.57")
      assert(Bench.jnum(9600 / 4.0, 0) == "2400")
    } finally Locale.setDefault(saved)
  }

  test("the total line parses with a quote, a backslash and a tab in the sf path") {
    val sf = "/data/a\"b\\c\td"
    val line = Bench.compactLine(12.5, 3, """{"q1":"Boom"}""", "", 0.25, sf)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("sf").asText == sf)
    assert(json.get("n_queries").asInt == 3)
    assert(json.get("errors").get("q1").asText == "Boom")
    assert(Bench.jstr("\u0001") == "\"\\u0001\"")
  }

  test("ScaleUp's line parses under a comma-decimal locale with a quote and a backslash in the path") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val out = "/data/sf\"x\\y"
      val line = graft.tools.ScaleUp.doneLine(out, 4)
      val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      assert(json.get("scaled").asText == out)
      assert(json.get("factor").asInt == 4)
    } finally Locale.setDefault(saved)
  }

  test("a SPARK_GRAFT_ONLY run writes only /tmp, never the committed full-suite files") {
    assert(Bench.outputPaths(filtered = true, cpus = 8) == Seq("/tmp/bench.json"))
    assert(Bench.outputPaths(filtered = false, cpus = 8) ==
      Seq("/tmp/bench.json", "bench_out.json", "bench_out_c8.json"))
  }
}

package graft

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite

/** Bench's JSON lines are parsed by machines; their numbers must not
  * follow the JVM's default locale, and their strings must be escaped.
  */
class BenchJsonSpec extends AnyFunSuite {
  private def germany[T](body: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(f"${1.5}%.2f" == "1,50", "the default locale is not comma-decimal")
      body
    } finally Locale.setDefault(saved)
  }

  test("numbers keep their decimals and a '.' point under a comma-decimal locale") {
    germany {
      val line = Bench.json.writeValueAsString(Bench.json.createObjectNode()
        .put("a", Bench.decimal(1.5)).put("b", Bench.decimal(1234.567, 2))
        .put("c", Bench.decimal(9600 / 4.0, 0))
        .put("d", Bench.decimal(2.675, 2)).put("e", Bench.decimal(0.0, 3)))
      // half-up on the shortest decimal form, as String.format rounds
      assert(line == """{"a":1.500,"b":1234.57,"c":2400,"d":2.68,"e":0.000}""")
    }
  }

  test("the total line parses with a quote, a backslash and a tab in the sf path") {
    val odd = "/data/a\"b\\c\td\u0001e"
    germany {
      val line = Bench.compactLine(12.5, 3, Map("q1" -> odd, "q0" -> "Boom"),
        0.25, odd)
      val json = Bench.json.readTree(line)
      assert(line.contains("\"value\":12.500,"))
      assert(line.contains("\"calib\":0.250,"))
      assert(json.get("metric").asText == "total")
      assert(json.get("sf").asText == odd)
      assert(json.get("n_queries").asInt == 3)
      assert(json.get("errors").get("q1").asText == odd)
      assert(json.get("errors").get("q0").asText == "Boom")
      assert(json.get("detail").asText == "bench_out.json")
      assert(line.getBytes("UTF-8").length < 400, line)
      // the keys and their order are the line's contract
      import scala.jdk.CollectionConverters._
      assert(json.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
        "n_queries", "errors", "calib", "sf", "detail"))
      assert(json.get("errors").fieldNames.asScala.toSeq == Seq("q0", "q1"))
    }
  }

  test("ScaleUp's line parses under a comma-decimal locale with a quote and a backslash in the path") {
    germany {
      val out = "/data/sf\"x\\y"
      val line = graft.tools.ScaleUp.doneLine(out, 4)
      val json = Bench.json.readTree(line)
      assert(json.get("scaled").asText == out)
      assert(json.get("factor").asInt == 4)
    }
  }

  test("a SPARK_GRAFT_ONLY run writes only /tmp, never the committed full-suite files") {
    assert(Bench.outputPaths(filtered = true, cpus = 8) == Seq("/tmp/bench.json"))
    assert(Bench.outputPaths(filtered = false, cpus = 8) ==
      Seq("/tmp/bench.json", "bench_out.json", "bench_out_c8.json"))
  }
}

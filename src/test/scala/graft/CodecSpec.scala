package graft

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.model._

/** Round-trip tests for the pipe-CSV record codec (entries.js semantics):
  * serialize -> parse -> identical record, for all five types including
  * the `fs` `:`-packed z-blocks and the `al` `&`-escaped nesting.
  */
class CodecSpec extends AnyFunSuite {

  private val rnd = new Random(31)
  private def optD(): Option[Double] =
    if (rnd.nextBoolean()) None else Some(math.round(rnd.nextDouble() * 1e6) / 1e3)

  private def zb(): ZBlock =
    ZBlock(optD(), optD(), optD(), optD(), rnd.nextInt(3) - 1)

  private def fs(): FullStatEntry =
    FullStatEntry(rnd.nextLong(1L << 41), s"srv${rnd.nextInt(3)}",
      s"S:svc${rnd.nextInt(5)}", math.round(rnd.nextDouble() * 1e4) / 1e2,
      Seq(360, 8640)(rnd.nextInt(2)), zb(), zb(), zb())

  test("tx round-trip") {
    for (_ <- 1 to 200) {
      val e = TxEntry(s"srv${rnd.nextInt(3)}", s"S:svc${rnd.nextInt(5)}",
        s"log${rnd.nextInt(1000)}",
        if (rnd.nextBoolean()) None else Some(rnd.nextLong(1L << 40)),
        if (rnd.nextBoolean()) None else Some(rnd.nextLong(1L << 41)),
        rnd.nextLong(1L << 41), rnd.nextInt(1 << 20),
        if (rnd.nextBoolean()) "Y" else "N")
      assert(Entry.fromCsv(e.toCsv) == e)
    }
  }

  test("st round-trip") {
    for (_ <- 1 to 200) {
      // tpm serializes via toFixed(2) -> construct 2-dp tpm for identity
      val e = StatEntry(rnd.nextLong(1L << 41), "srv1", "S:x",
        math.round(rnd.nextDouble() * 1e4) / 1e2, optD(), optD(), optD())
      assert(Entry.fromCsv(e.toCsv) == e)
    }
  }

  test("fs round-trip (lag/tpm CSV order swap)") {
    for (_ <- 1 to 200) {
      val e = fs()
      val csv = e.toCsv
      // entries.js:185 — field 4 is lag, field 5 is tpm on the wire
      val p = csv.split("\\|", -1)
      assert(p(4) == e.lag.toString && p(5) == Codec.nf2(e.tpm))
      assert(Entry.fromCsv(csv) == e)
    }
  }

  test("st and fs round-trip under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(f"${1.5}%.2f" == "1,50", "the default locale is not comma-decimal")
      val st = StatEntry(1578391200000L, "srv1", "S:x", 1.5,
        Some(2.25), None, Some(3.5))
      assert(st.toCsv.split("\\|", -1)(4) == "1.50")
      assert(Entry.fromCsv(st.toCsv) == st)
      val z = ZBlock(Some(0.5), Some(0.25), None, Some(1.75), 1)
      val fs = FullStatEntry(1578391200000L, "srv1", "S:x", 1.5, 360, z, z, z)
      assert(fs.toCsv.split("\\|", -1)(5) == "1.50")
      assert(Entry.fromCsv(fs.toCsv) == fs)
    } finally Locale.setDefault(saved)
  }

  test("al round-trip with & escaping") {
    for (_ <- 1 to 100) {
      val e = AlertEntry(rnd.nextLong(1L << 41), rnd.nextLong(1L << 41),
        "srv2", "S:y", "average UB exceeded, per75 UB exceeded", fs())
      val csv = e.toCsv
      assert(!csv.split("\\|", -1)(6).contains("|"))
      assert(csv.split("\\|", -1)(6).contains("&"))
      assert(Entry.fromCsv(csv) == e)
    }
  }

  test("jx round-trip") {
    for (_ <- 1 to 100) {
      val e = JmxEntry(rnd.nextLong(1L << 41), "srv0",
        rnd.nextInt(100), rnd.nextInt(100), rnd.nextInt(100),
        rnd.nextLong(1L << 33), rnd.nextLong(1L << 33), rnd.nextLong(1L << 33),
        rnd.nextLong(1L << 30), rnd.nextLong(1L << 30), rnd.nextLong(1L << 30),
        math.round(rnd.nextDouble() * 1e4) / 1e2, rnd.nextInt(1 << 16),
        rnd.nextInt(1 << 12), rnd.nextInt(1 << 12), rnd.nextInt(64),
        rnd.nextInt(64), rnd.nextInt(64))
      assert(Entry.fromCsv(e.toCsv) == e)
    }
  }

  test("audit-trail machine parses reference-shaped blocks") {
    import graft.operators.AuditTrail
    val lines = Seq(
      "[L1] 2024-01-07 10:00:00,000 INFO  auditTrailId=AUTR1 x",
      "[L2] 2024-01-07 10:00:01,000 INFO  auditTrailId=AUTR2 x",
      "Audit Trail id : AUTR1",
      "  svcA :[100 millis] tail",
      "  svcB :[200 millis] tail",
      "  svcA :[300 millis] tail", // repeated service FIFO
      "]",
      "Audit Trail id : AUTR2",
      "  svcC :[400 millis] tail",
      "]",
      "Audit Trail id : AUTR1", // already consumed -> no logId -> dropped
      "  svcD :[500 millis] tail",
      "]")
    val out = AuditTrail.runMachine("f", lines.iterator).toList
    assert(out.map(r => (r.log_id, r.service, r.elapsed)) == List(
      ("L1", "svcA", 100L), ("L1", "svcB", 200L), ("L1", "svcA", 300L),
      ("L2", "svcC", 400L)))
  }
}

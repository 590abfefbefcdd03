package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanAudit

/** Breadth guarantee over EVERY registered query's physical plan: no
  * cartesian product anywhere, and no query grows a nested-loop join
  * beyond its pinned bounded-broadcast count ([[PlanAudit.pinnedBnlj]]).
  * PlanSpec pins the flagship plans in depth; this closes the other ~130
  * against the one regression class that is invisible at sf0.001 wall
  * time and fatal at 100 TB — an accidental all-pairs join.
  */
class PlanAuditSpec extends AnyFunSuite with TestSession {

  /** The audit judges the STATIC plan (AQE can only ever improve on it),
    * so it runs with AQE off — in its own session: every suite shares
    * one test JVM and one session.
    */
  lazy val audit: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  test("the audit's AQE-off setting does not leak into the shared session") {
    audit
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(audit.conf.get("spark.sql.adaptive.enabled") == "false")
  }

  test("every registered query: zero cartesians, nested-loop joins " +
      "within their pinned bounded-broadcast counts") {
    val audits = PlanAudit.auditAll(audit, "/root/testdata/sf0.001")
    assert(audits.size == SparkEntry.queries.size)
    val bad = audits.filter(_.flagged.nonEmpty)
    assert(bad.isEmpty, "plan regressions:\n" + bad.map(a =>
      s"  ${a.name}: ${a.flagged.mkString("; ")}").mkString("\n"))
  }

  test("the pin list names only registered queries (no stale entries)") {
    val stale = PlanAudit.pinnedBnlj.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"pinned but not registered: $stale")
  }
}

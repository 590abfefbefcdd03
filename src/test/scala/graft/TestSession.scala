package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The session every suite runs on. All suites share one forked test
  * JVM and so one SparkContext; this builds it once, with
  * [[GraftSession]]'s settings and one temp warehouse directory. A suite
  * that needs a different setting scopes it itself (see
  * [[RocksDbSupport]], PlanAuditSpec).
  */
trait TestSession {
  lazy val spark: SparkSession = TestSession.spark
}

/** A suite that drains [[graft.streaming.ApmGraph]]s. Stage 1's stats
  * query outlives a call, so each test stops the graphs it drains
  * (`ApmGraph.stop`), and the suite must end with no query active: one
  * left running would poll its logs through every later suite.
  */
trait GraphSuite extends TestSession with BeforeAndAfterAll { this: Suite =>
  override def afterAll(): Unit =
    try {
      val left = spark.streams.active.map(_.name)
      assert(left.isEmpty, s"queries left active: ${left.mkString(", ")}")
    } finally super.afterAll()
}

object TestSession {
  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}

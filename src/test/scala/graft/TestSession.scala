package graft

import org.apache.spark.sql.SparkSession

/** The session every suite runs on. All suites share one forked test
  * JVM and so one SparkContext; this builds it once, with
  * [[GraftSession]]'s settings and one temp warehouse directory. A suite
  * that needs a different setting scopes it itself (see
  * [[RocksDbSupport]], PlanAuditSpec).
  */
trait TestSession {
  lazy val spark: SparkSession = TestSession.spark
}

object TestSession {
  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}

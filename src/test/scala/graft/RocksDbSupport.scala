package graft

import org.apache.spark.sql.SparkSession

/** Shared scoping helper for suites whose queries run on the RocksDB
  * state-store provider. Captures and
  * restores BOTH keys — a previous version restored only the provider,
  * leaking changelog checkpointing = true into later suites in the same
  * forked JVM. Suites run sequentially under Test/fork, so scoped
  * conf.set cannot cross-talk a concurrently running suite.
  */
trait RocksDbSupport {
  protected def spark: SparkSession

  protected def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val chg = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevKey = spark.conf.getOption(key)
    val prevChg = spark.conf.getOption(chg)
    spark.conf.set(key, graft.streaming.ApmStreaming.RocksDbProvider)
    spark.conf.set(chg, "true")
    def restore(k: String, prev: Option[String]): Unit = prev match {
      case Some(v) => spark.conf.set(k, v)
      case None    => spark.conf.unset(k)
    }
    try body
    finally { restore(key, prevKey); restore(chg, prevChg) }
  }
}

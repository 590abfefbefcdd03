package org.apache.spark.sql.graft

import org.apache.spark.util.ShutdownHookManager

/** Bridge into Spark's private[spark] shutdown-delete registry: a
  * registered directory is deleted, recursively, when the JVM exits.
  * Registering the same directory twice keeps one entry.
  */
object ShutdownDelete {
  def register(dir: String): Unit =
    ShutdownHookManager.registerShutdownDeleteDir(new java.io.File(dir))
}

package org.apache.spark.sql.graftbridge

import java.io.File

import org.apache.spark.util.{ShutdownHookManager, Utils}

/** Bridges Spark's private[spark] temp-dir helpers: a dir made by
  * [[createTempDir]] is registered with Spark's shutdown hook and
  * deleted, recursively, when the JVM exits.
  */
object TempDirBridge {
  def createTempDir(root: String, prefix: String): File =
    Utils.createTempDir(root, prefix)

  def deletedAtExit(dir: File): Boolean =
    ShutdownHookManager.hasShutdownDeleteDir(dir)
}

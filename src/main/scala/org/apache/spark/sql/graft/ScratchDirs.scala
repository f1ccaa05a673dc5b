package org.apache.spark.sql.graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.util.ShutdownHookManager

/** Scratch directories that Spark's shutdown hook deletes with all their
  * contents, after the SparkContext stops. `File.deleteOnExit` skips a
  * directory that is not empty, so it never removes a directory that data
  * was written into. Lives under `org.apache.spark` because
  * `ShutdownHookManager` is `private[spark]`.
  */
object ScratchDirs {

  /** A fresh temp directory named `prefix…`, deleted at shutdown. */
  def create(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    deleteAtShutdown(dir)
    dir.toString
  }

  def deleteAtShutdown(dir: File): Unit = ShutdownHookManager.registerShutdownDeleteDir(dir)

  def deletedAtShutdown(dir: File): Boolean = ShutdownHookManager.hasShutdownDeleteDir(dir)
}

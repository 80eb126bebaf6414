/*
 * Lives in package org.apache.spark to reach the `private[spark]`
 * ShutdownHookManager, whose delete-at-exit registry has no public twin.
 */
package org.apache.spark.graft

import java.nio.file.{Files, Path}

import org.apache.spark.util.ShutdownHookManager

/** Temp directories for query builds (stream drop roots, sink and
  * checkpoint roots, staged shards). A build's lazy plan may read its
  * directory at any later action, so nothing here deletes it early: each
  * directory joins Spark's shutdown-delete registry, the one Spark's own
  * scratch directories use, and goes when the JVM exits.
  */
object TempDirs {

  /** A new directory under `java.io.tmpdir` named `<prefix><random>`,
    * deleted with its contents at JVM exit.
    */
  def create(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    ShutdownHookManager.registerShutdownDeleteDir(dir.toFile)
    dir
  }
}

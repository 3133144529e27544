package org.apache.spark.graft

import org.apache.spark.util.Utils

/** Scratch directories that live until the JVM exits, for stores a
  * returned frame reads lazily (no caller knows when the last read
  * ran). Each is created under one per-JVM root that Spark's
  * shutdown-delete registry removes at exit (`Utils.createTempDir`
  * registers it; `Utils` is `private[spark]`, hence this package). */
object Scratch {
  private lazy val root =
    Utils.createTempDir(namePrefix = "graft_scratch").toPath

  /** A fresh directory named `prefix…` under the per-JVM root. */
  def dir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString
}

package org.apache.spark.graft

import org.apache.spark.util.HadoopFSUtils

/** Spark's file-listing name rule, which Spark keeps package-private. */
object FileIndex {
  /** Whether Spark's file index skips a file or directory of this name:
    * `_SUCCESS`, `.crc` files and other `_`/`.` sidecars, but not
    * `_metadata` or a `k=v` partition directory. */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}

package org.apache.spark.graftbridge

import org.apache.spark.util.HadoopFSUtils

/** Bridge into Spark's `private[spark]` file-listing rule, so a listing
  * outside Spark's file index skips exactly the names the index skips.
  * Same shim idiom as [[ListenerBridge]]. */
object FileListingBridge {
  def shouldFilterOutPathName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}

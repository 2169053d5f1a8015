package org.apache.spark.graftshim

import org.apache.spark.util.HadoopFSUtils

/** `HadoopFSUtils` is private[spark]; [[graft.io.Catalog.listVisible]]
  * needs its file-name filter to list exactly the files Spark's file
  * index (and so `binaryFile` and the file stream source) reads. Same
  * compiled-into-the-namespace pattern as [[ListenerBridge]].
  */
object FileIndexBridge {
  /** True for a path component Spark's file index skips: `_`/`.`
    * prefixes (bar `_metadata`, `_common_metadata` and `_k=v`
    * partition directories) and `._COPYING_` suffixes.
    */
  def hiddenName(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)
}

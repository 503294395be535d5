package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** The broadcasts held by this JVM's block manager, which is private to
  * Spark: a spec takes them before and after an operation to show that
  * it broadcast nothing. */
object BroadcastBlocks {
  def ids(): Set[Long] = SparkEnv.get.blockManager
    .getMatchingBlockIds(_.isInstanceOf[BroadcastBlockId])
    .collect { case b: BroadcastBlockId => b.broadcastId }.toSet
}

package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** The listener bus drain specs need to count jobs exactly, and the
  * block manager's view of an RDD's blocks; Spark keeps both
  * package-private. */
object GraftTestBus {
  /** Blocks until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** How many blocks of RDD `rddId` any block manager still holds. */
  def rddBlocks(sc: SparkContext, rddId: Int): Int =
    sc.env.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(id, _) => id == rddId
      case _ => false
    }, askStorageEndpoints = true).size
}

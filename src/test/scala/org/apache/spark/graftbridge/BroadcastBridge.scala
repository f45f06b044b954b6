package org.apache.spark.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Bridge for specs to the broadcast values the driver holds (the block
  * manager's memory store is `private[spark]`). */
object BroadcastBridge {
  /** Each broadcast value in the driver's memory store, by broadcast id. */
  def values(): Map[Long, Any] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap {
      case b: BroadcastBlockId => bm.memoryStore.getValues(b).map(v => b.broadcastId -> v.next())
      case _ => None
    }.toMap
  }
}

package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test-side view of the broadcast values the driver still holds, read
  * through the `private[spark]` block manager. */
object BroadcastProbe {
  /** Ids of the broadcast variables whose value sits in the driver's
    * memory store, other than the scheduler's task binaries (a task
    * binary's value is an `Array[Byte]`). */
  def heldValues(sc: SparkContext): Set[Long] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.collect {
      case b @ BroadcastBlockId(id, _)
          if scala.util.Try(bm.memoryStore.getValues(b)).toOption.flatten
            .exists(_.exists(v => !v.isInstanceOf[Array[Byte]])) => id
    }.toSet
  }
}

package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Two looks at Spark internals the benchmark needs, both
  * `private[spark]`, hence this bridge in the `org.apache.spark` package. */
object PerfbenchBus {

  /** Waits until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** RDD blocks still stored for RDDs that are no longer persisted: the
    * blocks a non-blocking unpersist has not removed yet. */
  def releasedBlocks(sc: SparkContext): Int = {
    val live = sc.getPersistentRDDs.keySet
    sc.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.keysIterator)
      .count { case RDDBlockId(id, _) => !live.contains(id); case _ => false }
  }
}

package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reads Spark's application status store, which Spark keeps from its own
  * listener whether or not the UI runs; the store is private to Spark. */
object StatusBridge {
  /** Bytes each stage attempt the store holds wrote to local disk (shuffle
    * files and spills), once every queued event has been delivered. */
  def stageDiskBytes(sc: SparkContext): Map[(Int, Int), Long] = {
    sc.listenerBus.waitUntilEmpty()
    sc.statusStore.stageList(null)
      .map(s => (s.stageId, s.attemptId) -> (s.shuffleWriteBytes + s.diskBytesSpilled)).toMap
  }
}

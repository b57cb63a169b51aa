package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** Driver internals Spark keeps package-private. */
object SparkInternals {

  /** Wait until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Heap bytes the driver's block store holds for cached and broadcast
    * blocks.
    */
  def heapStorageBytes(): Long = SparkEnv.get.memoryManager.onHeapStorageMemoryUsed
}

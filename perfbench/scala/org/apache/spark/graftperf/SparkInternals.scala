package org.apache.spark.graftperf

import org.apache.spark.{SparkContext, SparkEnv}

/** The two `private[spark]` reads the benchmark needs, kept in one file:
  * draining the listener bus before a traced pass is attributed, and the
  * bytes the block manager holds in storage memory (cached and
  * checkpointed RDD blocks plus broadcast blocks). */
object SparkInternals {

  /** Block until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Storage memory in use plus RDD blocks spilled to disk, in bytes. */
  def storageBytes(sc: SparkContext): Long =
    SparkEnv.get.memoryManager.storageMemoryUsed +
      sc.getRDDStorageInfo.map(_.diskSize).sum

  /** Bytes held by cached or checkpointed RDD blocks only. */
  def rddBlockBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

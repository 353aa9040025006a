package org.apache.spark.storage.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** The Spark internals the benchmark reads, reached from inside Spark's
  * package so nothing in the benchmark needs reflection. */
object SparkInternals {

  /** Blocks until every listener event posted so far has been handled,
    * so listener-fed counters and the status store are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of cached and checkpointed RDD partitions the block manager
    * holds right now (broadcast blocks excluded). Lock-free: it walks
    * the block-info map without taking the memory manager's lock. */
  def rddBytes(): Long =
    SparkEnv.get.blockManager.blockInfoManager.entries.collect {
      case (id, info) if id.isRDD => info.size
    }.sum
}

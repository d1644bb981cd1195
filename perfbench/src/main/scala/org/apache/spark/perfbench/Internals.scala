package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** The two Spark-internal readings the benchmark needs, reachable only
  * from inside the `org.apache.spark` package. */
object Internals {

  /** Bytes the block manager holds in its storage memory pool: cached
    * and checkpointed blocks plus broadcast variables. */
  def storageMemoryUsed: Long = SparkEnv.get.memoryManager.storageMemoryUsed

  /** Blocks until every listener event posted so far is delivered, so
    * events can be attributed to the op that caused them. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

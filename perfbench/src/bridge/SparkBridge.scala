package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** The two Spark internals the benchmark reads: it lives under
  * `org.apache.spark` only to reach them. */
object SparkBridge {
  /** Blocks until the listener bus has delivered every queued event. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of storage memory in use now (the local executor is the driver). */
  def storageMemoryUsed: Long =
    Option(SparkEnv.get).map(_.memoryManager.storageMemoryUsed).getOrElse(0L)
}

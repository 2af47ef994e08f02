package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the benchmark needs to wait until
  * every posted event (job, task, streaming progress) has been delivered
  * before it reads its listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

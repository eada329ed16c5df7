package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; a traced run waits on it so that
  * every job, task and query event has reached its listeners before the
  * traces are assembled.
  */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

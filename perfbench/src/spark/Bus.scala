package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits for the asynchronous listener bus to deliver every queued
  * event. In the spark namespace because `listenerBus` is
  * `private[spark]`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

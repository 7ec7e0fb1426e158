package org.apache.spark

/** The listener bus is private[spark]; the span recorder drains it before
  * reading task metrics so that every finished task has been counted.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

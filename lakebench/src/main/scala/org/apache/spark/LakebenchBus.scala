package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's job/task records are complete before it attributes them
  * to spans (the listener bus is asynchronous and `private[spark]`). */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

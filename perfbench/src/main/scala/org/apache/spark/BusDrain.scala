package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every event
  * posted so far, so that listener counts read afterwards are complete.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

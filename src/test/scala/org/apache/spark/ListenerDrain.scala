package org.apache.spark

/** Test access to the listener bus (package-private to Spark): block until
  * every event posted so far has reached every listener.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

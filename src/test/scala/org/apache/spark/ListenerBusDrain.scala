package org.apache.spark

/** Test access to the listener-bus drain Spark keeps package-private:
  * a listener's counts are complete only once every queued event has
  * been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

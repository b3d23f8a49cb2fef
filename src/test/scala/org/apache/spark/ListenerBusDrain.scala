package org.apache.spark

/** Test access to Spark's package-private listener bus drain, so a spec
  * reads a listener's counters only after every posted event has been
  * delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Waits until the listener bus has delivered every posted event. Listener
  * callbacks run on the bus thread, so a traced call is only complete once
  * its job, task and SQL execution events have all been delivered. The
  * bus is private to Spark; this object lives in Spark's package to reach it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

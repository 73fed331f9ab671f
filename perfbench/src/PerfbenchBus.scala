package org.apache.spark

/** The listener bus flush is `private[spark]`; this is the one place the
  * benchmark reaches into Spark internals, so traced metrics are read only
  * after every posted event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

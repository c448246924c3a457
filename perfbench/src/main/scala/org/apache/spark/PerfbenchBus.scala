package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so a pass's job and task records are complete before they are
  * read. Lives in Spark's package because the bus is package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

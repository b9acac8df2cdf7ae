package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's tracer can attribute query callbacks to the open span.
  * Lives in Spark's package because the bus is package-private.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

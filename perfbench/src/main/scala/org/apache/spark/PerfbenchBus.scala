package org.apache.spark

/** The listener bus is package-private in Spark; the traced run drains it
  * at operation boundaries so listener counts attribute to the right
  * operation. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

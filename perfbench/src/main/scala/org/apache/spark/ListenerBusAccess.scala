package org.apache.spark

/** The listener bus delivers events on its own thread. The tracer reads its
  * counters only after the bus has drained, which only Spark's own package
  * can ask for.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

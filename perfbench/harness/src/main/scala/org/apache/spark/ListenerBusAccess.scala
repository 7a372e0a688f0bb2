package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The two listener-bus calls the benchmark's tracer needs; both are
  * package-private in Spark. */
object ListenerBusAccess {
  /** Blocks until every event posted so far reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Posts a marker into the bus, in order with Spark's own events. */
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
}

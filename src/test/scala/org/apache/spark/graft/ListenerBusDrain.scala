package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark keeps the listener-bus drain package-private; specs that count
  * listener events drain the bus before reading their counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

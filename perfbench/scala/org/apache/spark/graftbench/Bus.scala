package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark's tracer: the bus is
  * `private[spark]`, so the one call it needs lives in a `spark`
  * subpackage. */
object Bus {
  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

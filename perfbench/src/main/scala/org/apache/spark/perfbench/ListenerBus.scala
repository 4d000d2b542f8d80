package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark's own packages. */
object ListenerBus {
  /** Block until every posted event has reached the registered listeners,
    * so counts read afterwards are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

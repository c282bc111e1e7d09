package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: block until every posted event has
  * reached its listeners, so a spec's SparkListener has seen all jobs of
  * the action it just ran. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the benchmark drains the
  * bus before it reads what its listeners collected. `listenerBus` is
  * package-private to Spark, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

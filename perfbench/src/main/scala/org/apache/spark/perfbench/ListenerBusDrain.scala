package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; this waits until every
  * event posted so far has reached the listeners, so counts read right
  * after an action cover all of that action's jobs. The bus is
  * package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

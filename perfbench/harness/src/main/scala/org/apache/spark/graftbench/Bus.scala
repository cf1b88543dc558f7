package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus drain for the benchmark's tracer. Listener events arrive
  * asynchronously; before the tracer reads or detaches its listeners it
  * waits until every event posted so far has been delivered. The wait is
  * `private[spark]`, hence this one object inside the spark package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * Spark delivers listener events on background threads; the traced run
  * drains the bus before it closes a span, so the span's task metrics and
  * query-execution callbacks are all attributed to it.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

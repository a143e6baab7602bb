package org.apache.spark

/** Waits until every listener queue has delivered what was posted so
  * far, so counters read at a span boundary include the events of the
  * work inside the span. Lives in this package because
  * `SparkContext.listenerBus` is `private[spark]`.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

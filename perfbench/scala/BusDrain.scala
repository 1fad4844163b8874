package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this
  * package. The traced run needs it: task-end events arrive after the
  * action that produced them has returned. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

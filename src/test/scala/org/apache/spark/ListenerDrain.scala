package org.apache.spark

/** Blocks until every event posted so far has reached every listener
  * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this
  * package). Job-start events arrive after the action that launched
  * the job has returned, so a listener count is only exact after a
  * drain. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Test access to SparkContext's `private[spark]` listener bus: wait
  * until every event posted so far has reached the listeners, so a
  * listener's count is complete when a spec reads it. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

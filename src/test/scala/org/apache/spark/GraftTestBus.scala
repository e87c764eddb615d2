package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to SparkContext's `private[spark]` listener bus. */
object GraftTestBus {
  /** Wait until every event posted so far has reached the listeners, so
    * a listener's count is complete when a spec reads it. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the number of Spark jobs it ran on `sc`. */
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Int) = {
    drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

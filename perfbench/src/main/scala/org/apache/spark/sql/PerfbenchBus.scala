package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two things the benchmark's tracer needs that Spark keeps private: the
  * listener bus, to wait for it to drain before reading what the listeners
  * attributed, and the query execution an SQL end event carries, whose
  * Catalyst phase times are keyed there by the same execution id as the
  * matching start event. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + planning ms of the execution that ended. */
  def planningMs(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum)
}

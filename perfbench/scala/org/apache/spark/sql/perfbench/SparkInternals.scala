package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two internals the traced run needs, both package-private in Spark. */
object SparkInternals {
  /** Listener events are delivered asynchronously; drain the bus so a
    * job's task and plan metrics are complete before they are attributed. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The executed plan of a finished SQL execution, keyed by the execution
    * id that the execution's Spark jobs carry. */
  def executedPlan(e: SparkListenerEvent): Option[(Long, SparkPlan)] = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null => Some(end.executionId -> end.qe.executedPlan)
    case _ => None
  }
}

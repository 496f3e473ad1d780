package org.apache.spark.sql.perfbenchshim

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The finished query's planning phases (parse, analyze, optimize, plan)
  * from its `QueryPlanningTracker`; the event's query is `private[sql]`.
  */
object PlanningTime {
  def millis(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}

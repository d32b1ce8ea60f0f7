package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer needs, reachable only from inside
  * `org.apache.spark.sql`.
  */
object Internals {
  /** Waits until every listener queue has delivered the events posted so
    * far, so a traced pass's spans are complete before the next pass.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Catalyst phase durations (ms) of a finished SQL execution, from the
    * `QueryPlanningTracker` of the `QueryExecution` the end event carries —
    * the same object `spark.sql.queryExecutionListeners` are handed.
    */
  def phasesMs(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).fold(Map.empty[String, Long])(_.tracker.phases.map { case (k, v) => k -> v.durationMs })
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway a custom whole-operator plan needs:
  * wrapping a hand-built resolved [[LogicalPlan]] back into a public
  * DataFrame. Lives in an `org.apache.spark.sql` subpackage for exactly
  * that access — the standard shape for Spark extension libraries
  * (every connector/plan extension ships an equivalent shim). Nothing
  * else of Spark's internals is touched here.
  */
object GraftSqlBridge {
  /** Run `body` with `spark` as the thread-active session — lazy plan
    * statistics (`LogicalPlan.stats`) read SQLConf.get, which resolves
    * through the ACTIVE session, not the plan's own.
    */
  def withActive[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].withActive(body)

  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Unload every cached state-store provider NOW instead of waiting
    * for the 60 s maintenance tick. A finished ephemeral drain's
    * providers are dead weight (its temp checkpoint is gone), and
    * letting them pile up makes the periodic maintenance sweep long
    * enough to stall whatever query is running when it fires —
    * measured as intermittent 2–5× wall-time spikes on back-to-back
    * drains (r17 measurement, back-to-back runs). Only legal BETWEEN
    * streaming queries: an active query's providers would reload from
    * its checkpoint (correct, but a pointless perf hit).
    */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}

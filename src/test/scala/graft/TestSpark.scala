package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One shared local SparkSession for the whole forked test JVM —
  * engine-level confs come from [[Sessions]].
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("local[4]", 8)

  /** Generated classes compiled (codegen cache misses) while `body` runs.
    * The compile metric is JVM-wide; the forked test JVM runs suites
    * serially, so nothing else compiles meanwhile.
    */
  def compilesDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}

/** The executed plan's operators, looking through adaptive wrappers and
  * query stages — for asserting on the operator tree itself.
  */
object PlanTree extends AdaptiveSparkPlanHelper {
  def nodes(ds: Dataset[_]): Seq[SparkPlan] = nodesUnder(ds.queryExecution.executedPlan)
  def nodesUnder(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
}

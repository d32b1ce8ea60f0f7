package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs launched while `body` runs, counted once the listener bus
    * has delivered every event before and after it.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(counter)
    try { body; ListenerBus.drain(sc) } finally sc.removeSparkListener(counter)
    jobs.get
  }
}

/** The executed plan's operators, looking through adaptive wrappers and
  * query stages — for asserting on the operator tree itself.
  */
object PlanTree extends AdaptiveSparkPlanHelper {
  def nodes(ds: Dataset[_]): Seq[SparkPlan] = nodesUnder(ds.queryExecution.executedPlan)
  def nodesUnder(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
}

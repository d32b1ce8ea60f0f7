package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
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

  /** The listener-bus events `pick` matches while `body` runs, collected
    * once the bus has delivered every event before and after it. Child
    * sessions post to the same context bus (streaming progress included).
    */
  def eventsDuring[T](pick: PartialFunction[SparkListenerEvent, T])(body: => Unit): Seq[T] = {
    val sc = spark.sparkContext
    val got = new ConcurrentLinkedQueue[T]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = pick.lift(e).foreach(got.add)
      override def onOtherEvent(e: SparkListenerEvent): Unit = pick.lift(e).foreach(got.add)
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBus.drain(sc) } finally sc.removeSparkListener(listener)
    got.asScala.toSeq
  }

  /** Spark jobs launched while `body` runs. */
  def jobsDuring(body: => Unit): Int =
    eventsDuring { case e: SparkListenerJobStart => e }(body).size
}

/** The executed plan's operators, looking through adaptive wrappers and
  * query stages — for asserting on the operator tree itself.
  */
object PlanTree extends AdaptiveSparkPlanHelper {
  def nodes(ds: Dataset[_]): Seq[SparkPlan] = nodesUnder(ds.queryExecution.executedPlan)
  def nodesUnder(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
}

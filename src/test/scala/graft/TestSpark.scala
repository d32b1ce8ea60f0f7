package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

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

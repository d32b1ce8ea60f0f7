package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.jobs.{WordCount, WordCountAlgebraic}

/** The algebraic (Aggregator-backed) engine path must produce exactly the
  * generic path's results while executing with map-side partial
  * aggregation.
  */
class AlgebraicSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def spec(out: String) = MapReduceSpec(
    nWorkers = 2, workerAddrs = Seq("a", "b"),
    inputFiles = MrFixture.inputs,
    outputDir = out, nOutputFiles = 10, mapKilobytes = 100, userId = "wc")

  test("algebraic word count == generic word count, with partial aggregation") {
    val s = spec("/tmp/algebraic-unused")
    val generic = Engine.transform(spark, s, WordCount).collect().toMap
    val algebraic = Engine.transformAlgebraic(spark, s, WordCountAlgebraic)
    assert(algebraic.collect().toMap == generic)

    val plan = algebraic.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    // the whole point: partial (map-side) aggregation before the shuffle
    assert(plan.contains("partial"), plan)
  }

  test("algebraic path honors the R-file sorted output contract") {
    val out = java.nio.file.Files.createTempDirectory("algebraic").toString
    Engine.runJobAlgebraic(spark, spec(out), WordCountAlgebraic)
    val files = new java.io.File(out).listFiles().map(_.getName).sorted
    assert(files.toSeq == (0 until 10).map(i => s"output_$i").sorted)
    files.foreach { f =>
      import scala.jdk.CollectionConverters._
      val keys = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get(out, f), java.nio.charset.StandardCharsets.UTF_8)
        .asScala.map(_.split(", ", 2)(0)).toSeq
      assert(keys == keys.sorted, s"$f not key-sorted")
    }
  }
}

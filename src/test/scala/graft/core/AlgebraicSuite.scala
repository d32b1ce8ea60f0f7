package graft.core

import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.{PlanTree, TestSpark}
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

    // the whole point: partial (map-side) aggregation before the shuffle,
    // in the codegen'd hash aggregate (a Long buffer needs no object state)
    val nodes = PlanTree.nodes(algebraic)
    val partials = nodes.collect {
      case a: HashAggregateExec if a.aggregateExpressions.exists(_.mode == Partial) => a
    }
    assert(partials.size == 1, nodes.head.treeString)
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

  test("a struct-buffer job whose finish reads its key keeps the contract on the object-hash path") {
    // buffer (count, longest line holding the word) is a tuple, so this
    // bridge runs in ObjectHashAggregateExec; finish renders the key too
    val out = java.nio.file.Files.createTempDirectory("algebraic-struct").toString
    val nodes = PlanTree.nodes(Engine.transformAlgebraic(spark, spec(out), CountAndLongestLine))
    assert(nodes.count(_.isInstanceOf[ObjectHashAggregateExec]) == 2, nodes.head.treeString)
    Engine.runJobAlgebraic(spark, spec(out), CountAndLongestLine)

    import scala.jdk.CollectionConverters._
    val lines = MrFixture.inputs.flatMap(f =>
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f)).asScala)
    val expected = lines
      .flatMap { line => CountAndLongestLine.tokens(line).map(w => (w, line.length.toLong)) }
      .groupBy(_._1)
      .map { case (w, occ) => w -> s"$w:${occ.size}:${occ.map(_._2).max}" }

    val files = (0 until 10).map { i =>
      java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get(out, s"output_$i"), java.nio.charset.StandardCharsets.UTF_8)
        .asScala.map { l => val Array(k, v) = l.split(", ", 2); (k, v) }.toSeq
    }
    files.zipWithIndex.foreach { case (rows, i) =>
      assert(rows.map(_._1) == rows.map(_._1).sorted, s"output_$i not key-sorted")
    }
    val keys = files.flatMap(_.map(_._1))
    assert(keys.size == keys.distinct.size, "a key appears in more than one output file")
    assert(files.flatten.toMap == expected)
  }
}

/** Word → (occurrences, length of the longest line holding it), rendered
  * as `word:count:maxLen`.
  */
private object CountAndLongestLine extends AlgebraicJob[(Long, Long)] {
  def tokens(line: String): Seq[String] = {
    val e = new BufferingEmitter
    WordCount.map(line, e)
    e.drain().map(_._1)
  }
  override def map(line: String, out: Emitter): Unit =
    tokens(line).foreach(w => out.emit(w, line.length.toString))
  override def zero: (Long, Long) = (0L, 0L)
  override def add(acc: (Long, Long), value: String): (Long, Long) =
    (acc._1 + 1, math.max(acc._2, value.toLong))
  override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (a._1 + b._1, math.max(a._2, b._2))
  override def finish(key: String, acc: (Long, Long)): String = s"$key:${acc._1}:${acc._2}"
  override def bufferEncoder: org.apache.spark.sql.Encoder[(Long, Long)] =
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
}

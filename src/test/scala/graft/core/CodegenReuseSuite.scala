package graft.core

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.jobs.{WordCount, WordCountAlgebraic}

/** Every MapReduce job runs on its own child session
  * (`Engine.scopedSession`). A repeated job must reuse the generated code
  * the first run compiled — a child session that keys the codegen cache
  * afresh (its own class loader) recompiles the whole plan on every call.
  */
class CodegenReuseSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a repeated MR job (spec and algebraic paths) compiles no generated code") {
    val dir = Files.createTempDirectory("graft-codegen-reuse")
    try {
      val corpus = dir.resolve("corpus.txt")
      Files.write(corpus, (1 to 4000).map(i => s"w${i % 97} w${i % 13}, w${i % 7}. w$i").asJava)
      def spec(out: String) = MapReduceSpec(
        nWorkers = 2, workerAddrs = Seq("a", "b"), inputFiles = Seq(corpus.toString),
        outputDir = dir.resolve(out).toString, nOutputFiles = 4, mapKilobytes = 16, userId = "wc")
      val jobs: Seq[(String, () => Int)] = Seq(
        "transform + OutputSink.write" -> (() => Engine.runJob(spark, spec("spec"), WordCount)),
        "transformAlgebraic + OutputSink.write" ->
          (() => Engine.runJobAlgebraic(spark, spec("algebraic"), WordCountAlgebraic)))
      val recompiles = jobs.map { case (name, run) =>
        run() // the first call compiles its plan
        name -> TestSpark.compilesDuring(run())
      }
      assert(recompiles.forall(_._2 == 0), s"compiles on a repeated call: $recompiles")
    } finally graft.streaming.Snapshot.deleteRecursively(dir)
  }
}

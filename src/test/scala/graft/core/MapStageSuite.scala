package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.jobs.{WordCount, WordCountAlgebraic}

/** What the engine moves between map and reduce, and how many Spark jobs a
  * spec-file job takes, measured on the listener bus rather than read off a
  * plan: the map stage's shuffle records and the jobs launched per run.
  */
class MapStageSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("word count shuffles one row per distinct word of each map task") {
    val kb = 100
    val out = Files.createTempDirectory("graft-mapstage-wc")
    val spec = MapReduceSpec(1, Seq("x"), MrFixture.inputs, out.toString, 4, kb, "wc")
    val stages = TestSpark.stagesDuring(Engine.runJob(spark, spec, WordCount))
    val mapStages = stages.filter(_.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)

    // the splits the engine's scan cuts at map_kilobytes, tokenized here
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.files.maxPartitionBytes", kb * 1000L)
    import scoped.implicits._
    val distinctPerTask = scoped.read.textFile(MrFixture.inputs: _*).mapPartitions { it =>
      val words = new java.util.HashSet[String]()
      val e = new Emitter { def emit(k: String, v: String): Unit = { words.add(k); () } }
      it.foreach(WordCount.map(_, e))
      Iterator(words.size.toLong)
    }.collect()

    assert(mapStages.map(_.numTasks) == Seq(distinctPerTask.length))
    assert(mapStages.head.taskMetrics.shuffleWriteMetrics.recordsWritten == distinctPerTask.sum)
  }

  test("a spec-file job runs as one Spark job on both engine paths") {
    def spec(name: String) = MapReduceSpec(1, Seq("x"), MrFixture.inputs,
      Files.createTempDirectory(s"graft-mapstage-$name").toString, 4, 500, "wc")
    assert(TestSpark.jobsDuring(Engine.runJob(spark, spec("spec"), WordCount)) == 1)
    assert(TestSpark.jobsDuring(Engine.runJobAlgebraic(spark, spec("alg"), WordCountAlgebraic)) == 1)
  }
}


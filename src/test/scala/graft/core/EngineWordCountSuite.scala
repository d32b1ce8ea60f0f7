package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.TestSpark
import graft.jobs.WordCount
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end test of SURVEY.md §7.2: word count with the reference's
  * output contract (R files `output_<i>`, per-file key-sorted, disjoint keys,
  * correct totals). The corpus is [[MrFixture.inputs]], a seeded stand-in for
  * the reference's Alice files with their size and delimiter set (FIXTURES.md
  * §A.2), so the tests cut as many shards as they would. The oracle is an
  * independently computed in-memory frequency table with *intended*
  * semantics (SURVEY.md §2.5 — the reference binary itself has a
  * value-corruption bug we must not replicate).
  */
class EngineWordCountSuite extends AnyFunSuite {

  private def inputs = MrFixture.inputs

  private def goldenCounts(): Map[String, Long] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    inputs.foreach { f =>
      Files.lines(Paths.get(f)).iterator().asScala.foreach { line =>
        line.split("[ ,.\"']+").foreach { w =>
          if (w.nonEmpty) counts.update(w, counts.getOrElse(w, 0L) + 1L)
        }
      }
    }
    counts.toMap
  }

  private def readOutput(dir: Path, r: Int): Seq[(Int, Seq[(String, String)])] =
    (0 until r).map { i =>
      val f = dir.resolve(s"output_$i")
      assert(Files.exists(f), s"missing output_$i")
      val pairs = Files.readAllLines(f).asScala.toSeq.map { line =>
        val cut = line.lastIndexOf(", ")
        assert(cut > 0, s"malformed line in output_$i: $line")
        (line.substring(0, cut), line.substring(cut + 2))
      }
      i -> pairs
    }

  test("F3-F12+U1+U2: word count over the reference fixtures honors the full output contract") {
    val outDir = Files.createTempDirectory("graft-wc")
    val r = 10
    val spec = MapReduceSpec(
      nWorkers = 4,
      workerAddrs = (1 to 4).map(i => s"localhost:$i"),
      inputFiles = inputs,
      outputDir = outDir.toString,
      nOutputFiles = r,
      mapKilobytes = 500,
      userId = "wc-golden"
    )
    Registry.clear()
    assert(Registry.register("wc-golden", WordCount))
    assert(Engine.run(TestSpark.spark, spec) == r)

    val outputs = readOutput(outDir, r)
    // Exactly R files, nothing else (tmp files cleaned up).
    val fileNames = Files.list(outDir).iterator().asScala.map(_.getFileName.toString).toSet
    assert(fileNames == (0 until r).map(i => s"output_$i").toSet)

    // Per-file key-sortedness (byte order).
    outputs.foreach { case (i, pairs) =>
      val keys = pairs.map(_._1)
      assert(keys == keys.sorted, s"output_$i not sorted by key")
    }

    // Each key in exactly one file.
    val keysPerFile = outputs.map(_._2.map(_._1).toSet)
    val total = keysPerFile.map(_.size).sum
    assert(keysPerFile.reduce(_ union _).size == total, "keys not disjoint across files")

    // Value correctness: union of all pairs == golden frequency table.
    val got = outputs.flatMap(_._2).map { case (k, v) => k -> v.toLong }.toMap
    val golden = goldenCounts()
    assert(got.size == golden.size, s"key count ${got.size} != golden ${golden.size}")
    assert(got == golden)
    Registry.clear()
  }

  test("the seeded corpus has §A.2's size and uses every tokenizer delimiter") {
    inputs.foreach { f =>
      val text = Files.readString(Paths.get(f))
      assert(math.abs(text.length - MrFixture.InputBytes) <= MrFixture.InputBytes / 100, f)
      // each delimiter of [ ,."']+, an in-word apostrophe and a blank line
      Seq(" ", ",", ".", "\"", "'", "n't", "\n\n").foreach(d => assert(text.contains(d), s"$f lacks [$d]"))
    }
  }

  test("engine result is invariant to shard size and R (partitioning contract only)") {
    import TestSpark.spark
    val golden = goldenCounts()
    for ((kb, r) <- Seq((100, 3), (2000, 7))) {
      val spec = MapReduceSpec(1, Seq("x"), inputs,
        Files.createTempDirectory(s"graft-wc-$r").toString, r, kb, "wc")
      val ds = Engine.transform(spark, spec, WordCount)
      assert(ds.rdd.getNumPartitions == r)
      val got = ds.collect().map { case (k, v) => k -> v.toLong }.toMap
      assert(got == golden)
    }
  }

  test("re-running into the same output dir overwrites stale files (even with smaller R)") {
    import TestSpark.spark
    val outDir = Files.createTempDirectory("graft-rerun")
    val tiny = Files.createTempFile("graft-tiny", ".txt")
    Files.writeString(tiny, "word extra\n")
    def spec(r: Int) = MapReduceSpec(1, Seq("x"), Seq(tiny.toString), outDir.toString, r, 10, "wc")
    Engine.runJob(spark, spec(10), WordCount)
    assert(Files.list(outDir).count() == 10)
    Engine.runJob(spark, spec(3), WordCount)
    val files = Files.list(outDir).iterator().asScala.map(_.getFileName.toString).toSet
    assert(files == Set("output_0", "output_1", "output_2"), "stale output files survived a re-run")
    val pairs = (0 until 3).flatMap(i => Files.readAllLines(outDir.resolve(s"output_$i")).asScala)
    assert(pairs.sorted == Seq("extra, 1", "word, 1"))
  }

  test("a reduce that emits keys other than its group key still writes key-sorted, disjoint files") {
    import TestSpark.spark
    val outDir = Files.createTempDirectory("graft-wc-rev")
    val r = 4
    val spec = MapReduceSpec(1, Seq("x"), inputs, outDir.toString, r, 100, "wc-rev")
    Engine.runJob(spark, spec, ReversedWordCount)
    val outputs = readOutput(outDir, r)
    // the group stage orders each partition by WORD; only the per-file
    // sort after reduce orders it by the reversed words actually written
    outputs.foreach { case (i, pairs) =>
      val keys = pairs.map(_._1)
      assert(keys == keys.sorted, s"output_$i not sorted by key")
    }
    val keysPerFile = outputs.map(_._2.map(_._1).toSet)
    assert(keysPerFile.reduce(_ union _).size == keysPerFile.map(_.size).sum,
      "keys not disjoint across files")
    val got = outputs.flatMap(_._2).map { case (k, v) => k.reverse -> v.toLong }.toMap
    assert(got == goldenCounts())
  }

  test("unknown user_id fails like the reference's null factory lookup") {
    Registry.clear()
    val spec = MapReduceSpec(1, Seq("x"), inputs, "/tmp/never", 2, 10, "ghost")
    intercept[NoSuchElementException](Engine.run(TestSpark.spark, spec))
  }
}

/** Word count whose reduce emits the reversed word: an output key that is
  * not the group key, so group order and output order differ.
  */
private object ReversedWordCount extends MrJob {
  override def map(line: String, out: Emitter): Unit = WordCount.map(line, out)
  override def reduce(key: String, values: Iterator[String], out: Emitter): Unit =
    WordCount.reduce(key, values, new Emitter {
      def emit(k: String, v: String): Unit = out.emit(k.reverse, v)
    })
}

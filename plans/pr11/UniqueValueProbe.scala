package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Warm in-JVM probe: a MapReduce job whose values never repeat (every map
  * emit is a distinct pair), run through Engine.runJob. Prints one line per
  * side: the per-run wall times in ms over `reps` runs after `warm` runs.
  * Copy this file into a checkout's `src/test/scala/graft/core/` and run
  * `sbt "Test/runMain graft.core.UniqueValueProbe <label> <reps> <warm>"`.
  */
object UniqueValueProbe {
  private object UniqueJob extends MrJob {
    override def map(line: String, out: Emitter): Unit = {
      val i = line.substring(1).toInt
      out.emit(s"k${i % 1000}", line)
    }
    override def reduce(key: String, values: Iterator[String], out: Emitter): Unit =
      out.emit(key, values.size.toString)
  }

  def main(args: Array[String]): Unit = {
    val Array(label, repsS, warmS) = args
    val spark = graft.Sessions.local("local[4]", 4)
    val dir = Files.createTempDirectory("unique-probe")
    // 4 shards of 80,000 one-token lines: 320,000 emits, as many as a
    // perfbench wordcount pass
    val inputs = (0 until 4).map { s =>
      val f = dir.resolve(s"shard$s.txt")
      Files.write(f, (0 until 80000).map(i => s"w${s * 80000 + i}").asJava)
      f.toString
    }
    val spec = MapReduceSpec(1, Seq("x"), inputs, dir.resolve("out").toString, 4, 1024, "unique")
    def once(): Double = { val t0 = System.nanoTime(); Engine.runJob(spark, spec, UniqueJob); (System.nanoTime() - t0) / 1e6 }
    (0 until warmS.toInt).foreach(_ => once())
    val ms = (0 until repsS.toInt).map(_ => once()).sorted
    val outs = (0 until 4).flatMap(i => Files.readAllLines(Paths.get(spec.outputDir, s"output_$i")).asScala)
    require(outs.map(_.split(", ")(1).toInt).sum == 320000, "wrong total")
    def q(p: Double) = ms(((ms.size - 1) * p).round.toInt)
    println(f"PROBE $label n=${ms.size} min=${ms.head}%.1f q1=${q(0.25)}%.1f median=${q(0.5)}%.1f q3=${q(0.75)}%.1f max=${ms.last}%.1f")
    spark.stop()
  }
}

package graft.core

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The sink's failure path: a task that throws while writing must not leave
  * its `.output_<pid>.attempt<tid>` temp file in the output directory.
  */
class OutputSinkSuite extends AnyFunSuite {

  test("a job whose reduce throws on one key leaves no temp file behind") {
    val input = Files.createTempFile("graft-sink-fail", ".txt")
    Files.writeString(input, "alpha beta\nboom gamma\n")
    val out = Files.createTempDirectory("graft-sink-fail-out")
    // R = 1: the failing task is the job's only reduce task, so no other
    // writer can still be running when the job's failure reaches the driver
    val spec = MapReduceSpec(1, Seq("x"), Seq(input.toString), out.toString, 1, 10, "boom")
    intercept[Exception](Engine.runJob(TestSpark.spark, spec, ThrowsOnBoom))
    val left = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!left.exists(_.startsWith(".output_")), s"temp files left: $left")
  }
}

/** Word count whose reduce throws on the key `boom`. */
private object ThrowsOnBoom extends MrJob {
  override def map(line: String, out: Emitter): Unit = graft.jobs.WordCount.map(line, out)
  override def reduce(key: String, values: Iterator[String], out: Emitter): Unit = {
    if (key == "boom") throw new IllegalStateException("reduce failed on boom")
    graft.jobs.WordCount.reduce(key, values, out)
  }
}

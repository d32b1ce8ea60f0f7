package graft.core

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters

import graft.TestSpark
import graft.jobs.WordCount

/** SURVEY.md §5.3 property tests: for arbitrary corpora, the engine's
  * output equals the `Map.groupBy` reference model, every key lands in
  * exactly one of the R partitions, each partition is key-sorted, and the
  * result is invariant to shard size and R. Spark jobs are slow per case,
  * so the case count is bounded — the point is randomized structure, not
  * volume.
  */
object EngineProperties extends Properties("Engine") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark

  private val word = Gen.nonEmptyStringOf(Gen.alphaLowerChar).map(_.take(8))
  private val line = Gen.listOf(word).map(_.mkString(" "))
  private val corpus = Gen.nonEmptyListOf(line)

  private def specFor(lines: Seq[String], r: Int, kb: Int, endsInNewline: Boolean = false): MapReduceSpec = {
    val f = java.nio.file.Files.createTempFile("engineprop", ".txt")
    val text = lines.mkString("\n") + (if (endsInNewline) "\n" else "")
    java.nio.file.Files.write(f, text.getBytes("UTF-8"))
    MapReduceSpec(1, Seq("w"), Seq(f.toString), "/tmp/engineprop-unused", r, kb, "wc")
  }

  private def model(lines: Seq[String]): Map[String, Long] =
    lines
      .flatMap(_.split("[ ,.\"']+"))
      .filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  property("output == groupBy model; keys disjoint; partitions sorted") =
    forAll(corpus, Gen.choose(1, 7), Gen.oneOf(1, 10, 1000)) { (lines, r, kb) =>
      val ds = Engine.transform(spark, specFor(lines, r, kb), WordCount)
      val parts = ds.rdd
        .mapPartitionsWithIndex { (pid, it) => Iterator((pid, it.toVector)) }
        .collect().toMap
      val pairs = parts.values.flatten.map { case (k, v) => (k, v.toLong) }
      val keysPerPart = parts.view.mapValues(_.map(_._1).toSet).values.toSeq

      parts.size == r &&
      pairs.toMap == model(lines) &&
      keysPerPart.combinations(2).forall { case Seq(a, b) => (a & b).isEmpty } &&
      parts.values.forall(p => p.map(_._1) == p.map(_._1).sorted)
    }

  // Tokens on single spaces, so double spaces give empty values; x, y and z
  // repeat, the random words rarely do.
  private val mixedWord = Gen.frequency(
    3 -> Gen.oneOf("x", "y", "z"), 1 -> Gen.const(""), 2 -> Gen.alphaLowerStr.map(_.take(12)))
  private val mixedCorpus = Gen.nonEmptyListOf(Gen.listOf(mixedWord).map(_.mkString(" ")))

  /** The lines the engine reads from [[specFor]]'s file: without a final
    * newline, a last empty line leaves the file ending in the newline before
    * it, and the reader yields no line after that newline.
    */
  private def linesRead(lines: Seq[String], endsInNewline: Boolean): Seq[String] =
    if (!endsInNewline && lines.lastOption.contains("")) lines.init else lines

  private def emitsOf(lines: Seq[String]): Seq[(String, String)] = {
    val buf = new BufferingEmitter
    lines.flatMap { l => MultisetJob.map(l, buf); buf.drain() }
  }

  private def multisetModel(lines: Seq[String]): Map[String, String] =
    emitsOf(lines).groupBy(_._1).map { case (k, kvs) => k -> MultisetJob.render(kvs.map(_._2)) }

  private def lengthModel(lines: Seq[String]): Map[String, String] =
    emitsOf(lines).groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2.length + 1L).sum.toString }

  /** Both engine paths against the driver-side models: the spec path's
    * reduce renders the sorted multiset of its values, so a count that is
    * dropped, duplicated or truncated on its way through the counted map
    * stage changes the output; the algebraic path sums `length + 1`.
    */
  private def matchesModels(lines: Seq[String], r: Int, kb: Int, endsInNewline: Boolean): Boolean = {
    val spec = specFor(lines, r, kb, endsInNewline)
    val read = linesRead(lines, endsInNewline)
    Engine.transform(spark, spec, MultisetJob).collect().toMap == multisetModel(read) &&
    Engine.transformAlgebraic(spark, spec, LengthSum).collect().toMap == lengthModel(read)
  }

  property("repeated, unique and empty values: every emit reaches reduce once") =
    forAll(mixedCorpus, Gen.choose(1, 5), Gen.oneOf(1, 1000), Gen.oneOf(true, false))(matchesModels)

  property("a map task past the 65,536-pair window flushes and still counts exactly") =
    Prop.secure {
      // one 1.9 MB split: 100,000 distinct pairs fill the window more than
      // once, and lines 50,000+ repeat pairs the first window already flushed
      val lines = (0 until 70000).map { i => val v = s"v${i % 50000}"; s"$v $v $v $v" }
      matchesModels(lines, 3, 4000, endsInNewline = false)
    }

  property("result invariant to shard size and partition count") =
    forAll(corpus, Gen.choose(1, 6), Gen.choose(1, 6)) { (lines, r1, r2) =>
      val a = Engine.transform(spark, specFor(lines, r1, 1), WordCount).collect().toMap
      val b = Engine.transform(spark, specFor(lines, r2, 1000), WordCount).collect().toMap
      a == b && a == model(lines).map { case (k, v) => k -> v.toString }
    }
}

/** Emits `(k<length mod 3>, token)` per single-space token and `(line, line)`
  * per line; reduce renders the sorted multiset of the group's values.
  */
private object MultisetJob extends MrJob {
  override def map(line: String, out: Emitter): Unit = {
    line.split(" ", -1).foreach(t => out.emit(s"k${t.length % 3}", t))
    out.emit("line", line)
  }
  override def reduce(key: String, values: Iterator[String], out: Emitter): Unit =
    out.emit(key, render(values.toSeq))
  def render(values: Seq[String]): String = values.sorted.mkString("[", "|", "]")
}

/** [[MultisetJob]]'s map with an algebraic reduce: the sum of `length + 1`. */
private object LengthSum extends AlgebraicJob[Long] {
  override def map(line: String, out: Emitter): Unit = MultisetJob.map(line, out)
  override def zero: Long = 0L
  override def add(acc: Long, value: String): Long = acc + value.length + 1
  override def merge(a: Long, b: Long): Long = a + b
  override def finish(key: String, acc: Long): String = acc.toString
  override def bufferEncoder: org.apache.spark.sql.Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
}

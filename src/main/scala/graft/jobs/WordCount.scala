package graft.jobs

import graft.core.{Emitter, MrJob}

/** U1+U2 — the bundled word-count workload (reference
  * `test/user_tasks.cc:12-33`): tokenize each line on the delimiter set
  * `" ,.\"'"` and emit `(word, "1")`; reduce sums the numeric values.
  *
  * Implements the *intended* semantics — all values are summed — not the
  * reference's shuffle-write value-corruption bug (SURVEY.md §2.5.1,
  * reference `src/mr_tasks.h:75-77` writes loop indices instead of values).
  */
object WordCount extends MrJob {
  // strtok(" ,.\"'") equivalence: each maximal run of non-delimiter chars
  // is a token, so any run of delimiters separates tokens and leading or
  // trailing runs yield no empty token. One scan, no per-line regex. Every
  // delimiter is ASCII, so a cut never falls inside a surrogate pair.
  override def map(line: String, out: Emitter): Unit = {
    val n = line.length
    var i = 0
    while (i < n) {
      while (i < n && isDelim(line.charAt(i))) i += 1
      val start = i
      while (i < n && !isDelim(line.charAt(i))) i += 1
      if (i > start) out.emit(line.substring(start, i), "1")
    }
  }

  private def isDelim(c: Char): Boolean =
    c == ' ' || c == ',' || c == '.' || c == '"' || c == '\''

  override def reduce(key: String, values: Iterator[String], out: Emitter): Unit = {
    var sum = 0L
    values.foreach(v => sum += v.toLong)
    out.emit(key, sum.toString)
  }
}

/** The same workload as an [[graft.core.AlgebraicJob]]: sum is
  * commutative/associative, so declaring it algebraically lets the engine
  * shuffle per-partition partial sums instead of one "1" per token.
  */
object WordCountAlgebraic extends graft.core.AlgebraicJob[Long] {
  override def map(line: String, out: Emitter): Unit = WordCount.map(line, out)
  override def zero: Long = 0L
  override def add(acc: Long, value: String): Long = acc + value.toLong
  override def merge(a: Long, b: Long): Long = a + b
  override def finish(key: String, acc: Long): String = acc.toString
  override def bufferEncoder: org.apache.spark.sql.Encoder[Long] =
    org.apache.spark.sql.Encoders.scalaLong
}

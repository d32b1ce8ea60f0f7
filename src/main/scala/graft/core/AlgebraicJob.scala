package graft.core

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** An algebraic MapReduce job: same map-side surface as [[MrJob]], but the
  * reduce is declared as a commutative/associative fold (zero/add/merge/
  * finish) instead of an opaque `(key, Iterator) => emits` function.
  *
  * Why it exists (SURVEY.md §7.3.1): an opaque reduce forces Spark to
  * shuffle EVERY emitted (key, value) pair to the reducer. An algebraic
  * reduce becomes a typed [[Aggregator]], which Spark executes with
  * map-side partial aggregation — each input partition shuffles one
  * accumulator per distinct key instead of one row per emit. For word
  * count at 100 TB that is the difference between shuffling ~10^13 "1"s
  * and shuffling |vocabulary| × |partitions| partial sums. The reference
  * only approximates this with its mapper-side buffer
  * (`src/mr_tasks.h:44,55-62`) — values are pre-grouped per mapper but
  * still all shipped.
  *
  * The aggregate's input is the counted map stage's `(key, value, n)` rows
  * (see [[CountingEmitter]]): `n` identical emits of one map task arrive as
  * one row and `add(acc, value)` is applied to it `n` times, so `add` must
  * not depend on how the emits were grouped — which commutativity and
  * associativity already require.
  */
trait AlgebraicJob[B] extends Serializable {
  def map(line: String, out: Emitter): Unit
  def zero: B
  def add(acc: B, value: String): B
  def merge(a: B, b: B): B

  /** Renders the final accumulator as the output value for `key`. */
  def finish(key: String, acc: B): String

  /** Encoder for the accumulator type (shuffled as partial state). */
  def bufferEncoder: Encoder[B]
}

object AlgebraicJob {

  /** Bridges an [[AlgebraicJob]] reduce into a Spark typed [[Aggregator]]
    * over the counted map stage's `(key, value, n)` rows: `n` identical
    * emits of `(key, value)` in one map task arrive as one row, and
    * `reduce` folds `add` over it `n` times, so the result equals folding
    * every emit. Buffer and output are the job's
    * accumulator alone: `finish(key, acc)` is applied by the engine after
    * the aggregation, where the key is a column again
    * ([[Engine.transformLinesAlgebraic]]). Keeping the key out of the buffer
    * matters to the plan: a buffer whose encoder is a bare primitive
    * (`Encoders.scalaLong`, …) runs in the codegen'd `HashAggregateExec`,
    * while a struct buffer such as a `(key, acc)` tuple runs in
    * `ObjectHashAggregateExec`, which falls back to sorting a task's rows
    * once it has seen 128 keys.
    */
  def aggregator[B](job: AlgebraicJob[B]): Aggregator[(String, String, Long), B, B] =
    new Aggregator[(String, String, Long), B, B] {
      override def zero: B = job.zero
      override def reduce(acc: B, row: (String, String, Long)): B = {
        var a = acc
        var i = 0L
        while (i < row._3) {
          a = job.add(a, row._2)
          i += 1
        }
        a
      }
      override def merge(a: B, b: B): B = job.merge(a, b)
      override def finish(acc: B): B = acc
      override def bufferEncoder: Encoder[B] = job.bufferEncoder
      override def outputEncoder: Encoder[B] = job.bufferEncoder
    }
}

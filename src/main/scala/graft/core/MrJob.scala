package graft.core

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Push-style emit hook, preserving the reference's user-facing API shape
  * (`BaseMapperInternal::emit` / `BaseReducerInternal::emit`, reference
  * `src/mr_tasks.h:55-62,112-115`): user code calls `emit(key, value)` any
  * number of times per input.
  */
trait Emitter extends Serializable {
  def emit(key: String, value: String): Unit
}

/** A user MapReduce job — the Spark-native equivalent of the reference's
  * `BaseMapper`/`BaseReducer` pair (reference
  * `external/include/mr_task_factory.h:14-48`).
  *
  * `map` is invoked once per input line (F5); `reduce` once per distinct key
  * with the iterator of all values for that key (F10). Both communicate
  * results through the push-style [[Emitter]]. Implementations must be
  * serializable (they ship to executors inside task closures — the Spark
  * analog of the reference's fresh-instance-per-task factory,
  * `src/mr_task_factory.cc:81-88`, which is what makes speculative duplicate
  * execution safe).
  *
  * NOTE: as in Hadoop, the `values` iterator passed to `reduce` is only valid
  * during that call — consume it before returning.
  *
  * The order of the values passed to `reduce` is unspecified. The engine
  * counts identical `(key, value)` emits within a map task
  * ([[CountingEmitter]]) and replays each count as a run, so identical
  * values that one map task emitted within one counting window arrive
  * adjacent; a task past the window bound splits them into several runs.
  */
trait MrJob extends Serializable {
  def map(line: String, out: Emitter): Unit
  def reduce(key: String, values: Iterator[String], out: Emitter): Unit
}

/** Buffering emitter used by the engine to adapt push-style user code to
  * Spark's pull-style (iterator-returning) flatMap/mapPartitions operators.
  */
final class BufferingEmitter extends Emitter {
  private val buf = new ArrayBuffer[(String, String)]()
  override def emit(key: String, value: String): Unit = buf += ((key, value))
  def drain(): Seq[(String, String)] = {
    val out = buf.toVector
    buf.clear()
    out
  }
}

/** The map-side combine of the reference's mapper (`src/mr_tasks.h:44`,
  * which groups a map task's emits per key in an unbounded `std::map`),
  * bounded: identical `(key, value)` emits of one map task are counted in a
  * window and leave as `(key, value, n)` rows, so the shuffle, its sort and
  * the reduce side scale with distinct pairs rather than with emits.
  *
  * The window is flushed after the input line that fills it to
  * [[CountingEmitter.MaxPairs]] pairs or [[CountingEmitter.MaxChars]] chars
  * of keys and values, which bounds what a task holds outside Spark's
  * memory manager (a single line's emits are counted whole, as
  * [[BufferingEmitter]] buffers them whole).
  */
private[core] final class CountingEmitter extends Emitter {
  import CountingEmitter.{Count, MaxChars, MaxPairs}

  private var window = new java.util.HashMap[(String, String), Count]()
  private var chars = 0L

  override def emit(key: String, value: String): Unit = {
    val pair = (key, value)
    val c = window.get(pair)
    if (c != null) c.n += 1
    else {
      window.put(pair, new Count)
      chars += key.length + value.length
    }
  }

  /** The window's counts once it is full or `last` (the task's input is
    * exhausted), else nothing.
    */
  def drain(last: Boolean): Iterator[(String, String, Long)] =
    if (!window.isEmpty && (last || window.size >= MaxPairs || chars >= MaxChars)) {
      val full = window
      window = new java.util.HashMap[(String, String), Count]()
      chars = 0L
      full.entrySet.iterator.asScala.map(e => (e.getKey._1, e.getKey._2, e.getValue.n))
    } else Iterator.empty
}

private[core] object CountingEmitter {

  /** Window bounds. Word count over perfbench's Zipf corpus (seed 11) holds
    * about 10.9k distinct pairs in each 0.62 MB map task, at 7.4 emits per
    * pair, so such a task counts in one window. At 65,536 pairs a window's
    * map entries (key tuple, count, node, table slot: ~90 B) take about
    * 6 MB; 8 Mi chars of keys and values take 8-16 MB as strings.
    */
  val MaxPairs = 65536
  val MaxChars: Long = 8L << 20

  final class Count { var n = 1L }

  /** One map task: each line through `map`, its emits counted, and the
    * task's `(key, value, n)` rows as they leave the window.
    */
  def mapTask(lines: Iterator[String], map: (String, Emitter) => Unit): Iterator[(String, String, Long)] = {
    val e = new CountingEmitter
    lines.flatMap { line =>
      map(line, e)
      e.drain(last = !lines.hasNext)
    }
  }

  /** Each `(key, value, n)` row as `n` repeats of `value`, lazily. */
  def values(rows: Iterator[(String, String, Long)]): Iterator[String] = new Iterator[String] {
    private var value: String = _
    private var left = 0L
    def hasNext: Boolean = {
      while (left == 0 && rows.hasNext) {
        val r = rows.next()
        value = r._2
        left = r._3
      }
      left > 0
    }
    def next(): String = {
      if (!hasNext) throw new NoSuchElementException("no more values")
      left -= 1
      value
    }
  }
}

package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The map-side count on its own, without Spark: what leaves the window
  * and when, at the engine's own bounds.
  */
class CountingEmitterSuite extends AnyFunSuite {

  private def rows(it: Iterator[(String, String, Long)]): Set[(String, String, Long)] = it.toSet

  test("identical emits leave as one counted row when the input ends") {
    val e = new CountingEmitter
    Seq("a" -> "1", "b" -> "1", "a" -> "1", "a" -> "2").foreach { case (k, v) => e.emit(k, v) }
    assert(e.drain(last = false).isEmpty)
    assert(rows(e.drain(last = true)) == Set(("a", "1", 2L), ("b", "1", 1L), ("a", "2", 1L)))
    assert(e.drain(last = true).isEmpty)
  }

  /** Emits `(k, v<i>)` `times` times for each `i` in `range`. */
  private def emitEach(e: CountingEmitter, range: Range, times: Int): Unit =
    range.foreach(i => (0 until times).foreach(_ => e.emit("k", s"v$i")))

  test("the window flushes after the line that fills it to MaxPairs pairs, and counting goes on") {
    val e = new CountingEmitter
    emitEach(e, 0 until CountingEmitter.MaxPairs - 1, 3)
    assert(e.drain(last = false).isEmpty)
    emitEach(e, CountingEmitter.MaxPairs - 1 until CountingEmitter.MaxPairs, 3)
    val flushed = e.drain(last = false).toVector
    assert(flushed.size == CountingEmitter.MaxPairs && flushed.forall(_._3 == 3L))
    emitEach(e, 0 until 1, 2)
    assert(e.drain(last = false).isEmpty)
    assert(e.drain(last = true).toSeq == Seq(("k", "v0", 2L)))
  }

  test("the window flushes once its keys and values reach MaxChars") {
    val e = new CountingEmitter
    val big = "x" * (CountingEmitter.MaxChars - 2).toInt
    e.emit("k", big)
    assert(e.drain(last = false).isEmpty)
    e.emit("k", "a")
    assert(rows(e.drain(last = false)) == Set(("k", big, 1L), ("k", "a", 1L)))
  }

  test("mapTask flushes the last window after the task's last line") {
    val lines = Iterator("a b a", "", "b")
    val got = CountingEmitter.mapTask(lines, (l, out) => l.split(" ").filter(_.nonEmpty).foreach(out.emit(_, "1")))
    assert(rows(got) == Set(("a", "1", 2L), ("b", "1", 2L)))
  }

  test("values replays each row's count lazily, past Int.MaxValue") {
    val huge = 3L << 31
    val vs = CountingEmitter.values(Iterator(("k", "x", 2L), ("k", "y", 1L), ("k", "z", huge)))
    assert(vs.take(4).toSeq == Seq("x", "x", "y", "z"))
    assert(CountingEmitter.values(Iterator.empty).isEmpty)
  }
}

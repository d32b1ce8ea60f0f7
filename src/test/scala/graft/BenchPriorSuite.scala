package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.priorMediansIn]] only compares against a run with the same sf
  * and the same core count.
  */
class BenchPriorSuite extends AnyFunSuite {
  private val sf = "/data/sf0.1"

  private def detail(cpus: Option[Int], median: Double): String =
    "{" + cpus.fold("")(c => s""""cpus":$c,""") +
      s""""detail":{"q01_x":{"median":$median}},"sf":"$sf"}"""

  private def withDir(files: (String, String)*)(check: Path => Unit): Unit = {
    val d = Files.createTempDirectory("bench-prior-")
    try {
      files.foreach { case (name, body) => Files.writeString(d.resolve(name), body) }
      check(d)
    } finally graft.streaming.Snapshot.deleteRecursively(d)
  }

  test("a detail file with the same cpus is the prior") {
    withDir("BENCH_DETAIL.json" -> detail(Some(4), 1.5)) { d =>
      assert(Bench.priorMediansIn(d, sf, "4") == Map("q01_x" -> 1.5))
      assert(Bench.priorMediansIn(d, "/data/sf1", "4").isEmpty)
    }
  }

  test("a detail file with other cpus falls back to BENCH_DETAIL_c<cpus>.json") {
    withDir(
        "BENCH_DETAIL.json" -> detail(Some(8), 1.0),
        "BENCH_DETAIL_c4.json" -> detail(Some(4), 2.0)) { d =>
      assert(Bench.priorMediansIn(d, sf, "4") == Map("q01_x" -> 2.0))
      assert(Bench.priorMediansIn(d, sf, "8") == Map("q01_x" -> 1.0))
      assert(Bench.priorMediansIn(d, sf, "32").isEmpty)
    }
  }

  test("a detail file without cpus matches no core count") {
    withDir("BENCH_DETAIL.json" -> detail(None, 1.0)) { d =>
      assert(Bench.priorMediansIn(d, sf, "4").isEmpty)
    }
    withDir(
        "BENCH_DETAIL.json" -> detail(None, 1.0),
        "BENCH_DETAIL_c4.json" -> detail(Some(4), 3.0)) { d =>
      assert(Bench.priorMediansIn(d, sf, "4") == Map("q01_x" -> 3.0))
    }
  }
}

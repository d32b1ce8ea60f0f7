package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The artifact registry's own contract: nested builds, failed builds,
  * staged-root validation and release.
  */
class SharedSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A dataset-dir key no other suite uses, so entries never collide. */
  private def freshDir(): String = s"shared-suite-${java.util.UUID.randomUUID()}"

  test("a build that asks for other artifacts returns") {
    val dir = freshDir()
    val got = Shared.session(spark, dir, "outer") {
      Shared.session(spark, dir, "inner")("in") + "+" +
        Shared.staged(dir, "layout")(_ => Shared.session(spark, dir, "inner")("unused"))
    }
    assert(got == "in+in")
    // every nested entry is cached: a second call builds nothing
    assert(Shared.session[String](spark, dir, "outer")(fail("rebuilt")) == "in+in")
  }

  test("a build that throws caches nothing and is retried on the next call") {
    val dir = freshDir()
    val builds = new AtomicInteger(0)
    def get(): String = Shared.session(spark, dir, "flaky") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      "ok"
    }
    assertThrows[IllegalStateException](get())
    assert(get() == "ok")
    assert(get() == "ok")
    assert(builds.get == 2)
  }

  test("a staged root whose marker was deleted is rebuilt exactly once") {
    val dir = freshDir()
    val builds = new AtomicInteger(0)
    def get(): String = Shared.staged(dir, "feed") { root =>
      builds.incrementAndGet()
      Files.writeString(Paths.get(root, "part-0.txt"), "x")
      root
    }
    val first = get()
    assert(Files.exists(Paths.get(first, Shared.Marker)))
    assert(get() == first && builds.get == 1)
    Files.delete(Paths.get(first, Shared.Marker))
    val second = get()
    assert(second != first)
    assert(get() == second && get() == second)
    assert(builds.get == 2)
    assert(!Files.exists(Paths.get(first)), "the invalid root is deleted")
    assert(Files.exists(Paths.get(second, Shared.Marker)))
  }

  test("clear() unpersists every held frame, deletes its roots and forgets entries") {
    val dir = freshDir()
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val df = Shared.session(spark, dir, "frame")(spark.range(10).toDF("id").persist(lvl))
    val (inTuple, n) = Shared.session(spark, dir, "tuple") {
      val t = spark.range(20).toDF("id").persist(lvl)
      (t, t.count())
    }
    val root = Shared.staged(dir, "layout") { r =>
      spark.range(5).write.parquet(s"$r/t")
      r
    }
    assert(n == 20 && df.count() == 10)
    // the marker stays out of Spark's listing of the staged root
    assert(spark.read.parquet(s"$root/t").count() == 5)
    assert(df.storageLevel == lvl && inTuple.storageLevel == lvl)
    Shared.clear()
    val none = org.apache.spark.storage.StorageLevel.NONE
    assert(df.storageLevel == none && inTuple.storageLevel == none)
    assert(!Files.exists(Paths.get(root)))
    // forgotten: the next call builds afresh
    val rebuilt = new AtomicInteger(0)
    Shared.session(spark, dir, "frame") { rebuilt.incrementAndGet(); spark.range(1).toDF("id") }
    assert(rebuilt.get == 1)
  }
}

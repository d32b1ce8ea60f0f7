package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.jobsDuring
import graft.rel.Queries

/** [[Shared.parquetSchema]]: parquet schema inference is a Spark job per
  * `read.parquet` call, so input tables read through a memo of its
  * result. A hit launches no job; a rewritten file or a different reader
  * conf is a miss.
  */
class SchemaMemoSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def withTempDir[T](body: String => T): T = {
    val d = Files.createTempDirectory("graft-schema-memo")
    try body(d.toString) finally streaming.Snapshot.deleteRecursively(d)
  }

  test("building q01, q148, q158 and q22 on a warm session launches no Spark job") {
    val names = Seq("q01_pricing_summary", "q148_rich_inactive", "q158_asof_native", "q22_token_stats")
    // two untimed passes: the first settles the session's reader confs
    // (q158's events loader sets nanosAsLong), the second infers under them
    (1 to 2).foreach(_ => names.foreach(n => SparkEntry.queries(n)(spark, dir)))
    val launched = names.map(n => n -> jobsDuring(SparkEntry.queries(n)(spark, dir)))
    assert(launched.forall(_._2 == 0), s"jobs launched by a warm build: $launched")
  }

  test("a cold table() launches exactly one job, the inference; a warm one none") {
    withTempDir { d =>
      spark.range(10).toDF("id").write.parquet(s"$d/t.parquet")
      assert(jobsDuring(Queries.table(spark, d, "t")) == 1)
      assert(jobsDuring(Queries.table(spark, d, "t")) == 0)
      assert(Queries.table(spark, d, "t").count() == 10)
    }
  }

  test("a parquet file rewritten at the same path with another schema is re-inferred") {
    withTempDir { d =>
      spark.range(3).toDF("id").write.parquet(s"$d/t.parquet")
      assert(Queries.table(spark, d, "t").columns.toSeq == Seq("id"))
      spark.range(3).selectExpr("id AS k", "cast(id AS string) AS v")
        .write.mode("overwrite").parquet(s"$d/t.parquet")
      val back = Queries.table(spark, d, "t")
      assert(back.columns.toSeq == Seq("k", "v"))
      assert(back.collect().length == 3)
    }
  }

  test("one path read under two values of a reader conf gets one entry per value") {
    withTempDir { d =>
      // fresh paths, so no other suite's read left an entry for them: the
      // committed TIMESTAMP(NANOS) fixture, a long only under nanosAsLong,
      // and the testdata's events (micros without UTC adjustment, NTZ only
      // when inferred as such)
      val nanos = s"$d/nanos.parquet"
      val events = s"$d/events.parquet"
      Files.copy(Paths.get(getClass.getResource("/events_nanos/events.parquet").toURI), Paths.get(nanos))
      Files.copy(Paths.get(s"$dir/events.parquet"), Paths.get(events))
      def session(conf: String, value: String) = {
        val s = spark.newSession()
        s.conf.set(conf, value)
        s
      }
      val asLong = session("spark.sql.legacy.parquet.nanosAsLong", "true")
      val plain = session("spark.sql.legacy.parquet.nanosAsLong", "false")
      // without it inference throws, and a failed inference caches nothing
      (1 to 2).foreach { _ =>
        assert(jobsDuring(intercept[AnalysisException](Shared.parquetSchema(plain, nanos))) == 1)
      }
      assert(jobsDuring(assert(Shared.parquetSchema(asLong, nanos)("ts").dataType == LongType)) == 1)
      assert(jobsDuring(assert(Shared.parquetSchema(asLong, nanos)("ts").dataType == LongType)) == 0)
      val ntz = session("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      val ltz = session("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      assert(jobsDuring(assert(Shared.parquetSchema(ntz, events)("ts").dataType == TimestampNTZType)) == 1)
      assert(jobsDuring(assert(Shared.parquetSchema(ltz, events)("ts").dataType == TimestampType)) == 1)
      // both entries stay: neither value evicted the other
      assert(jobsDuring {
        assert(Shared.parquetSchema(ntz, events)("ts").dataType == TimestampNTZType)
        assert(Shared.parquetSchema(ltz, events)("ts").dataType == TimestampType)
      } == 0)
    }
  }

  test("Shared.clear() drops schema entries") {
    withTempDir { d =>
      spark.range(3).toDF("id").write.parquet(s"$d/t.parquet")
      assert(jobsDuring(Queries.table(spark, d, "t")) == 1)
      assert(jobsDuring(Queries.table(spark, d, "t")) == 0)
      Shared.clear()
      assert(jobsDuring(Queries.table(spark, d, "t")) == 1)
    }
  }
}

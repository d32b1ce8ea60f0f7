package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Internals
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.{Sessions, SparkEntry}
import graft.pipeline.{Dedup, TextAnalysis}

/** Benchmark process for one workload. Reads a JSON config written by
  * `perfbench/run.py`, then:
  *
  *  1. sets up on the `Sessions.local` session: stages inputs, warms the
  *     session's shared artifacts and runs untimed passes — one cold pass,
  *     then `warmup_passes` more, so JIT and caches settle before timing;
  *  2. runs timed passes, one op at a time (closed loop, one client thread),
  *     until `seconds` have elapsed and at least `min_passes` are done;
  *  3. measures the heap retained after a full GC.
  *
  * The cold pass is the validation pass: it writes each op's result where
  * `run.py` checks it, and the last timed pass must reproduce that result's
  * fingerprint. Fingerprints are taken after those two passes, outside the
  * timed window and its trace: a query's fingerprint is a second execution
  * of it, which for every pass would cost the run a third of its timed
  * window. Every execution of every pass still fails the run if it throws.
  *
  * Every phase, pass, op and module call is a [[Span]]. With `trace` on,
  * [[TraceListener]] (attached through `spark.extraListeners`) records
  * Spark's spans during every other timed pass, so traced and untraced
  * passes of the same process give the tracing overhead.
  *
  * Writes `result.json` and `spans.jsonl` into `work_dir`.
  */
object Main {
  private implicit val formats: Formats = DefaultFormats

  final case class Sample(phase: String, pass: Int, name: String, seconds: Double, checked: Boolean, fp: String,
      error: String)
  final case class Pass(phase: String, index: Int, traced: Boolean, wall: Double, cpu: Double, gc: Double,
      loadBefore: Double, loadAfter: Double)

  private val os = ManagementFactory.getOperatingSystemMXBean
  private def cpuSeconds: Double =
    os.asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val cfg = parse(new String(Files.readAllBytes(Paths.get(args(0))), UTF_8))
    val sfDir = (cfg \ "sf_dir").extract[String]
    val work = (cfg \ "work_dir").extract[String]
    val seconds = (cfg \ "seconds").extract[Double]
    val trace = (cfg \ "trace").extract[Boolean]
    val cores = (cfg \ "cores").extract[Int]
    val minPasses = (cfg \ "min_passes").extract[Int]
    val warmupPasses = (cfg \ "warmup_passes").extract[Int]
    val orders = (cfg \ "orders").extract[Seq[Seq[String]]]
    val modules = (cfg \ "modules").extract[Map[String, String]]
    // set-up starts when run.py starts generating inputs
    val beforeMainS = (cfg \ "pre_launch_s").extract[Double] + bootS

    val ops: Map[String, Op] = modules.map {
      case (name, "core") =>
        name -> new WordCountOp(name, s"$work/$name.ini", algebraic = name.contains("algebraic"))
      case (name, module) => name -> new QueryOp(name, module, sfDir)
    }

    // Stages the inputs: the word-count spec files (the corpus
    // itself is generated from the seed before the process starts) and,
    // for pipeline queries, the session's shared artifacts.
    def stage(spark: SparkSession): Unit = {
      if (modules.values.exists(_ == "core")) {
        WordCountOp.register()
        val wc = cfg \ "wordcount"
        val inputs = (wc \ "inputs").extract[Seq[String]]
        modules.collect { case (name, "core") => name }.foreach { name =>
          val ini = Seq(
            s"n_workers=$cores",
            "worker_ipaddr_ports=" + (1 to cores).map(i => s"localhost:${50050 + i}").mkString(","),
            "input_files=" + inputs.mkString(","),
            s"output_dir=$work/out/$name",
            s"n_output_files=${(wc \ "r").extract[Int]}",
            s"map_kilobytes=${(wc \ "map_kb").extract[Int]}",
            "user_id=wordcount")
          Files.write(Paths.get(s"$work/$name.ini"), ini.mkString("", "\n", "\n").getBytes(UTF_8))
        }
      }
      if (modules.values.exists(_ == "pipeline"))
        Trace.span("call", "pipeline.warm_shared") {
          TextAnalysis.warmShared(spark, sfDir)
          Dedup.warmShared(spark, sfDir)
        }
    }

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[Pass]
    var checkSeconds = 0.0 // spent taking fingerprints

    def call[T](name: String, attrs: mutable.Map[String, Double] = mutable.Map.empty)(body: => T): T = {
      val c0 = Codegen.compiles
      Trace.span("call", name, attrs) {
        val r = body
        val n = Codegen.compiles - c0
        attrs("codegen_compiles") = n.toDouble
        attrs("codegen_ms") = Codegen.estimateMs(n)
        r
      }
    }

    // Runs one pass and records its samples; returns each successful
    // execution's sample index with the thunk that fingerprints its result.
    def runPass(spark: SparkSession, phase: String, index: Int, order: Seq[String], traced: Boolean,
        validateDir: Option[String] = None): Seq[(Int, () => String)] = {
      if (traced) { Internals.drain(spark.sparkContext); Trace.recording = true }
      val load0 = os.getSystemLoadAverage
      val cpu0 = cpuSeconds
      val gc0 = gcSeconds
      val passAttrs = mutable.Map[String, Double]("traced" -> (if (traced) 1.0 else 0.0))
      val done = mutable.ArrayBuffer.empty[(String, Double, Either[String, () => String])]
      Trace.span("pass", s"$phase.$index", passAttrs) {
        order.foreach { name =>
          val op = ops(name)
          val t0 = System.nanoTime()
          val outcome: Either[String, () => String] =
            try Right(Trace.span("op", name) {
              validateDir match {
                case Some(dir) =>
                  val fp = call(s"${op.module}.validate")(op.validate(spark, dir))
                  () => fp
                case None =>
                  val built = call(s"${op.module}.${op.buildCall}")(op.build(spark))
                  val attrs = mutable.Map.empty[String, Double]
                  call(s"${op.module}.action", attrs)(op.action(built, attrs))
              }
            })
            catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
          done += ((name, (System.nanoTime() - t0) / 1e9, outcome))
        }
        passAttrs("cpu_ms") = (cpuSeconds - cpu0) * 1e3
        passAttrs("gc_ms") = (gcSeconds - gc0) * 1e3
      }
      if (traced) { Internals.drain(spark.sparkContext); Trace.recording = false }
      passes += Pass(phase, index, traced, done.map(_._2).sum, passAttrs("cpu_ms") / 1e3,
        passAttrs("gc_ms") / 1e3, load0, os.getSystemLoadAverage)
      done.toSeq.flatMap { case (name, secs, outcome) =>
        samples += Sample(phase, index, name, secs, checked = false, "", outcome.left.getOrElse(""))
        outcome.toOption.map(f => (samples.size - 1, f))
      }
    }

    def check(executions: Seq[(Int, () => String)]): Unit = {
      val c0 = System.nanoTime()
      executions.foreach { case (i, f) =>
        val fp = try f() catch { case e: Throwable => s"!${e.getClass.getSimpleName}" }
        samples(i) = samples(i).copy(checked = true, fp = fp)
      }
      checkSeconds += (System.nanoTime() - c0) / 1e9
    }

    // 1. set-up
    val vdir = s"$work/validate"
    Files.createDirectories(Paths.get(vdir))
    val spark = Sessions.local(s"local[$cores]", cores)
    val sessionS = (System.nanoTime() - mainNs) / 1e9
    Trace.span("setup", "setup") {
      stage(spark)
      // the cold pass is also the validation pass
      check(runPass(spark, "validate", 0, orders(0), traced = false, Some(vdir)))
      for (w <- 1 to warmupPasses)
        runPass(spark, "warmup", w, orders(w % orders.size), traced = false)
    }
    // the fingerprints check the benchmark's outputs: not part of set-up
    val setupS = beforeMainS + (System.nanoTime() - mainNs) / 1e9 - checkSeconds

    // 2. timed passes
    val timedT0 = System.nanoTime()
    var k = 0
    var last = Seq.empty[(Int, () => String)]
    while (k < minPasses || (System.nanoTime() - timedT0) / 1e9 < seconds) {
      last = runPass(spark, "timed", k, orders((warmupPasses + 1 + k) % orders.size), traced = trace && k % 2 == 0)
      k += 1
    }
    check(last)
    last = Nil

    // 3. retained heap: the least heap in use over several full GCs, since
    // Spark's context cleaner releases shuffles and broadcasts
    // asynchronously after their owners are collected
    val heapMb = (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val oracles = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.write(Paths.get(s"$vdir/oracle_sql.json"),
      org.json4s.jackson.Serialization.write(oracles).getBytes(UTF_8))

    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> s"${System.getProperty("java.version")} (${System.getProperty("java.vm.name")})",
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master)
    spark.stop()

    val result = Map(
      "host" -> host,
      "setup_s" -> setupS,
      "check_s" -> checkSeconds,
      "before_main_s" -> beforeMainS,
      "session_s" -> sessionS,
      "heap_retained_mb" -> heapMb,
      "passes" -> passes.toSeq,
      "samples" -> samples.toSeq)
    Files.write(Paths.get(s"$work/result.json"), org.json4s.jackson.Serialization.write(result).getBytes(UTF_8))
    val w = Files.newBufferedWriter(Paths.get(s"$work/spans.jsonl"), UTF_8)
    try Trace.all.foreach(s => w.write(org.json4s.jackson.Serialization.write(s) + "\n"))
    finally w.close()
  }
}

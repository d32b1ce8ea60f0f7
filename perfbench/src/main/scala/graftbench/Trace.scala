package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** One timed interval. Times are wall-clock microseconds since the epoch,
  * the clock Spark stamps its own events with. `parent` is 0 when the
  * parent is found later by time containment (SQL executions and streaming
  * batches run under whichever benchmark span was open at the time).
  */
final case class Span(
    id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double])

/** In-memory span store, written out once when the run ends. */
object Trace {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  /** Gates the Spark listener: events are kept only while a traced pass runs. */
  @volatile var recording = false

  def nextId(): Long = ids.incrementAndGet()
  /** Read from the wall clock Spark stamps its events with, so both kinds
    * of span stay aligned even when the clock is stepped during a run.
    */
  def nowUs: Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000 + t.getNano / 1000
  }
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  private var stack: List[Long] = Nil

  /** Records a span around `body`, nested under the innermost open one.
    * `attrs` is read after `body`, so the body can fill it in.
    */
  def span[T](kind: String, name: String,
      attrs: scala.collection.mutable.Map[String, Double] = scala.collection.mutable.Map.empty)(body: => T): T = {
    val id = nextId()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = nowUs
    try body
    finally {
      stack = stack.tail
      add(Span(id, parent, kind, name, t0, nowUs, attrs.toMap))
    }
  }
}

/** Spark listener installed through `spark.extraListeners`, so every
  * session on the context is covered, child sessions included. Records
  * SQL executions (with their Catalyst phase times), jobs, stages (with
  * summed task metrics) and streaming micro-batches as spans.
  */
class TraceListener extends SparkListener {
  private final class JobRec(val span: Long, val startUs: Long, val parent: Long)
  private val sqlOpen = new ConcurrentHashMap[Long, (Long, Long)]() // execution -> (span, start)
  private val jobOpen = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Long]() // stage -> job span
  private val stageAcc = new ConcurrentHashMap[(Int, Int), Array[Double]]()

  private val taskKeys = Array("tasks", "run_ms", "cpu_ns", "deser_ms", "scan_bytes", "scan_rows",
    "shuffle_write_bytes", "shuffle_write_ns", "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes")

  override def onOtherEvent(event: SparkListenerEvent): Unit = if (Trace.recording) event match {
    case e: SparkListenerSQLExecutionStart =>
      sqlOpen.put(e.executionId, (Trace.nextId(), e.time * 1000))
    case e: SparkListenerSQLExecutionEnd =>
      Option(sqlOpen.remove(e.executionId)).foreach { case (id, start) =>
        val phases = Internals.phasesMs(e)
        val attrs = Seq("analysis", "optimization", "planning").map { p =>
          s"${p}_ms" -> phases.getOrElse(p, 0L).toDouble
        }.toMap
        Trace.add(Span(id, 0, "sql", s"sql.${e.executionId}", start, e.time * 1000, attrs))
      }
    case e: QueryProgressEvent =>
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      val ops = p.stateOperators.toSeq
      def custom(k: String): Double = ops.map(o => Option(o.customMetrics.get(k)).fold(0.0)(_.toDouble)).sum
      val attrs = Map(
        "input_rows" -> p.numInputRows.toDouble,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0.0),
        "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0.0),
        "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0.0),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0.0),
        "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
        "state_rows" -> ops.map(_.numRowsUpdated.toDouble).sum,
        "state_cache_hits" -> custom("loadedMapCacheHitCount"),
        "state_cache_misses" -> custom("loadedMapCacheMissCount"))
      Trace.add(Span(Trace.nextId(), 0, "batch", s"${p.name}#${p.batchId}",
        start, start + (d.getOrElse("triggerExecution", 0.0) * 1000).toLong, attrs))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.recording) {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val parent = exec.flatMap(x => Option(sqlOpen.get(x.toLong))).fold(0L)(_._1)
    val rec = new JobRec(Trace.nextId(), e.time * 1000, parent)
    jobOpen.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec.span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOpen.remove(e.jobId)).foreach { r =>
      Trace.add(Span(r.span, r.parent, "job", s"job.${e.jobId}", r.startUs, e.time * 1000, Map.empty))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.recording && e.taskMetrics != null) {
    val m = e.taskMetrics
    val v = Array[Double](1, m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.diskBytesSpilled)
    stageAcc.compute((e.stageId, e.stageAttemptId), (_, acc) =>
      if (acc == null) v else { acc.indices.foreach(i => acc(i) += v(i)); acc })
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val acc = stageAcc.remove((info.stageId, info.attemptNumber()))
    if (acc != null) {
      val start = info.submissionTime.getOrElse(0L) * 1000
      Trace.add(Span(Trace.nextId(), Option(stageJob.remove(info.stageId)).fold(0L)(_.longValue), "stage",
        s"stage.${info.stageId}", start, info.completionTime.map(_ * 1000).getOrElse(start),
        taskKeys.zip(acc).toMap))
    }
  }
}

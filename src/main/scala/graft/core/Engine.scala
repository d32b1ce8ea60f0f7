package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** The MapReduce-parity engine — F3–F12 of SURVEY.md §2.1, re-expressed as a
  * single declarative Spark pipeline (reference pipeline:
  * `src/mapreduce_impl.cc:8-26`; map loop `src/worker.h:129-139`;
  * group+reduce `src/mr_tasks.h:117-138` + `src/worker.h:178-180`).
  *
  * Dataflow: `spark.read.textFile` (F3 split planning + F4 sharded scan are
  * Spark built-ins; `map_kilobytes` drives `spark.sql.files.maxPartitionBytes`)
  * → `mapPartitions`+user map (F5/F6) counting identical `(key, value)`
  * emits per map task into `(key, value, n)` rows ([[CountingEmitter]], the
  * reference mapper's per-key grouping) → `repartition(R, key)` (F7 hash
  * partition: Murmur3 instead of the reference's `std::hash` — per-key
  * placement differs but the contract "each key in exactly one of R files"
  * holds) → `groupBy(key)` typed `flatMapGroups` (F8 group + F10 reduce,
  * each row replayed as `n` values; the grouping reuses the repartition's
  * hash distribution, so the whole job has exactly ONE shuffle) →
  * `sortWithinPartitions` (F9 per-file key sort; no global sort — the
  * reference model has none either, SURVEY.md §1.3) → [[OutputSink]]
  * (F11/F12 exact `output_<i>` file naming). A spec-file job runs on a
  * scoped session with AQE off, so it is ONE Spark job: the map stage and
  * the reduce stage, with no re-planning between them.
  *
  * Scale posture: no `collect`, no driver-side grouping; group values stream
  * through the reduce iterator (Spark sorts/spills the shuffle data, so a
  * hot key never has to fit in memory). The map-side count is what the
  * reference keeps in its unbounded `std::map` (`src/mr_tasks.h:44`), but
  * bounded: a task flushes its window at 65,536 pairs or 8 Mi chars.
  * Shuffle rows, sort and reduce-side work then scale with the distinct
  * pairs of each map task, not with its emits.
  */
object Engine {

  /** Runs the job registered under `spec.userId`. Returns the number of
    * output files written (== spec.nOutputFiles) — the reference's
    * `MapReduce::run` bool becomes an exception on failure.
    */
  def run(spark: SparkSession, spec: MapReduceSpec): Int = {
    val errs = MapReduceSpec.validate(spec)
    require(errs.isEmpty, s"invalid spec: ${errs.mkString("; ")}")
    val job = Registry
      .get(spec.userId)
      .getOrElse(throw new NoSuchElementException(s"no job registered for user_id=${spec.userId}"))
    runJob(spark, spec, job)
  }

  def runJob(spark: SparkSession, spec: MapReduceSpec, job: MrJob): Int = {
    OutputSink.write(transform(spark, spec, job), spec.outputDir)
    spec.nOutputFiles
  }

  /** The pure dataflow (separated from the sink so tests can inspect it).
    * Result has exactly `spec.nOutputFiles` partitions, each sorted by key.
    */
  def transform(spark: SparkSession, spec: MapReduceSpec, job: MrJob): Dataset[(String, String)] =
    transformLines(scan(spark, spec), job, spec.nOutputFiles)

  /** F3+F4: the spec's input lines, split at `map_kilobytes`. The reference
    * shards at map_kilobytes*1000 bytes, newline-aligned
    * (`src/file_shard.h:64,93,110` — *1000, not 1024); Spark's
    * FileSourceScanExec does the same line-aligned byte-range split. The
    * override lives on a scoped session (same SparkContext, private
    * SQLConf): FilePartition.maxSplitBytes re-reads the plan's session conf
    * at RDD build, so mutating the caller's shared session would both leak
    * the setting past this job and race two concurrent jobs with different
    * map_kilobytes.
    *
    * The scoped session also turns AQE off. The job's exchange is a
    * fixed-R `REPARTITION_BY_NUM` and it has no join, so AQE has nothing
    * to coalesce or split; it would still re-plan between the map and the
    * reduce stage and run them as two Spark jobs. The algebraic path's
    * aggregate exchange then has `spark.sql.shuffle.partitions` partitions,
    * uncoalesced.
    */
  private def scan(spark: SparkSession, spec: MapReduceSpec): Dataset[String] = {
    val scoped = scopedSession(spark)
    scoped.conf.set("spark.sql.files.maxPartitionBytes", spec.mapKilobytes * 1000L)
    scoped.conf.set("spark.sql.adaptive.enabled", false)
    scoped.read.textFile(spec.inputFiles: _*)
  }

  /** `newSession()` starts from DEFAULT confs, which would silently drop
    * whatever the caller tuned at runtime (AQE flags, session timezone, …)
    * — so the caller's runtime SQL confs are copied over before the
    * per-job override is applied. Read-only entries are skipped. The
    * child shares the parent's class loader (artifact isolation is off in
    * [[graft.Sessions.local]]), so a repeated job reuses the parent's
    * compiled and JIT-warmed generated code instead of recompiling it.
    */
  private def scopedSession(spark: SparkSession): SparkSession = {
    val scoped = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try scoped.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () } // static/read-only conf
    }
    scoped
  }

  /** F5–F10 over an arbitrary line Dataset — the engine's dataflow minus the
    * file scan, so any corpus column (e.g. `documents.text`) can run through
    * the exact `MrJob.map`/`reduce` code path.
    */
  def transformLines(lines: Dataset[String], job: MrJob, nOutputFiles: Int): Dataset[(String, String)] = {
    val spark = lines.sparkSession
    import spark.implicits._
    // F7: hash partition into R. F8+F10: group + reduce. The groupBy's
    // required ClusteredDistribution(key) is already satisfied by the
    // repartition, so Catalyst inserts only a per-partition sort — one
    // shuffle total for the whole job.
    countedMapStage(lines, job.map)
      .repartition(nOutputFiles, col("key"))
      .groupBy(col("key"))
      .as[String, (String, String, Long)]
      .flatMapGroups { (key: String, rows: Iterator[(String, String, Long)]) =>
        val e = new BufferingEmitter
        job.reduce(key, CountingEmitter.values(rows), e)
        e.drain()
      }
      // F9: per-file sort by (emitted) key. Byte order == C++ std::string
      // order for the ASCII range the parity layer contracts (SURVEY §7.5).
      .toDF("key", "value")
      .sortWithinPartitions("key")
      .as[(String, String)]
  }

  /** The algebraic fast path: same contract as [[transform]], but the
    * reduce runs as a typed [[org.apache.spark.sql.expressions.Aggregator]]
    * with map-side partial aggregation — the shuffle carries one partial
    * accumulator per (partition, key) instead of every emitted pair
    * (see [[AlgebraicJob]]). The final repartition moves only the reduced
    * rows (|distinct keys|), so its cost is negligible next to the saved
    * pair shuffle.
    */
  def transformAlgebraic[B](
      spark: SparkSession,
      spec: MapReduceSpec,
      job: AlgebraicJob[B]): Dataset[(String, String)] =
    transformLinesAlgebraic(scan(spark, spec), job, spec.nOutputFiles)

  /** The algebraic dataflow over an arbitrary line Dataset — the
    * [[transformLines]] twin for [[AlgebraicJob]]s, so any corpus column
    * can run through the Aggregator fast path too.
    *
    * The aggregate's buffer is the job's accumulator alone
    * ([[AlgebraicJob.aggregator]]), and `finish(key, acc)` runs in a typed
    * `map` after the per-file sort (a map keeps row order). A buffer whose
    * encoder is a bare primitive (`Encoders.scalaLong`, as in word count)
    * plans a codegen'd `HashAggregateExec` for both the partial and the
    * final phase; a buffer that encodes as a struct (a tuple, a case class)
    * or as a string plans `ObjectHashAggregateExec`, which sorts a task's
    * rows once it has seen 128 keys. Grouping on the `key` column, as
    * [[transformLines]] does, rather than `groupByKey(_._1)` keeps the
    * partial aggregate in the map stage's generated code instead of behind
    * a per-row key function. Because the repartition sits directly on the
    * aggregate, its hash distribution makes `repartition(R, key)` redundant
    * when R equals `spark.sql.shuffle.partitions`: one exchange. The
    * aggregate's input is the counted map stage's `(key, value, n)` rows,
    * and its `reduce` applies `add` `n` times.
    */
  def transformLinesAlgebraic[B](
      lines: Dataset[String],
      job: AlgebraicJob[B],
      nOutputFiles: Int): Dataset[(String, String)] = {
    val spark = lines.sparkSession
    import spark.implicits._
    countedMapStage(lines, job.map)
      .groupBy(col("key"))
      .as[String, (String, String, Long)]
      .agg(AlgebraicJob.aggregator(job).toColumn.name("value"))
      .repartition(nOutputFiles, col("key"))
      .sortWithinPartitions("key")
      .map { case (key, acc) => (key, job.finish(key, acc)) }
      .toDF("key", "value")
      .as[(String, String)]
  }

  /** F5+F6: per-record user map through one [[CountingEmitter]] per map
    * task, as columns `key`, `value` and `n` (the emit count, >= 1).
    */
  private def countedMapStage(lines: Dataset[String], map: (String, Emitter) => Unit): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.mapPartitions(CountingEmitter.mapTask(_, map)).toDF("key", "value", "n")
  }

  def runJobAlgebraic[B](spark: SparkSession, spec: MapReduceSpec, job: AlgebraicJob[B]): Int = {
    OutputSink.write(transformAlgebraic(spark, spec, job), spec.outputDir)
    spec.nOutputFiles
  }
}

package graft.core

import java.nio.file.{Files, Paths}

/** Job specification for the MapReduce-parity layer.
  *
  * Mirrors the capability of the reference's `MapReduceSpec`
  * (reference `src/mapreduce_spec.h:31-40`): a `key=value` INI config naming
  * the worker pool, input files, output dir, number of output files R, shard
  * size, and the registered user job id.
  *
  * On Spark, `nWorkers`/`workerAddrs` are informational only (executors are
  * the worker pool); `mapKilobytes` maps to the input-split size
  * (`spark.sql.files.maxPartitionBytes`); `nOutputFiles` is the shuffle
  * partition count R of the reduce stage.
  */
final case class MapReduceSpec(
    nWorkers: Int,
    workerAddrs: Seq[String],
    inputFiles: Seq[String],
    outputDir: String,
    nOutputFiles: Int,
    mapKilobytes: Int,
    userId: String
)

object MapReduceSpec {

  /** F1 — config scan. Parses the reference's `key=value` INI dialect
    * (reference `src/mapreduce_spec.h:58-100`): one `key=value` per line,
    * comma-separated lists for `worker_ipaddr_ports` and `input_files`.
    * Unknown keys are ignored; missing numeric keys default to 0 so that
    * validation (F2) can report them.
    */
  def fromConfigFile(path: String): MapReduceSpec = {
    val kv = Files
      .readAllLines(Paths.get(path))
      .toArray(Array.empty[String])
      .iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
      .map { l =>
        val i = l.indexOf('=')
        l.substring(0, i).trim -> l.substring(i + 1).trim
      }
      .toMap
    fromMap(kv)
  }

  def fromMap(kv: Map[String, String]): MapReduceSpec = {
    def num(k: String): Int = kv.get(k).map(_.toInt).getOrElse(0)
    def list(k: String): Seq[String] =
      kv.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    MapReduceSpec(
      nWorkers = num("n_workers"),
      workerAddrs = list("worker_ipaddr_ports"),
      inputFiles = list("input_files"),
      outputDir = kv.getOrElse("output_dir", ""),
      nOutputFiles = num("n_output_files"),
      mapKilobytes = num("map_kilobytes"),
      userId = kv.getOrElse("user_id", "")
    )
  }

  /** F2 — spec validation (reference `src/mapreduce_spec.h:104-141`):
    * worker count must match the address list, every input file must be
    * readable, and the numeric fields must be positive. Returns the list of
    * violations (empty = valid) rather than printing like the reference.
    */
  def validate(spec: MapReduceSpec): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (spec.nWorkers <= 0) errs += s"n_workers must be positive, got ${spec.nWorkers}"
    if (spec.nWorkers != spec.workerAddrs.size)
      errs += s"n_workers=${spec.nWorkers} != ${spec.workerAddrs.size} worker addresses"
    if (spec.inputFiles.isEmpty) errs += "no input files"
    spec.inputFiles.foreach { f =>
      // Hadoop FS, not java.nio: inputs may live on hdfs:// or s3a:// and
      // may be globs — reject only what no reader could open.
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        val fs = p.getFileSystem(HadoopConf.shared)
        val matches = fs.globStatus(p)
        if (matches == null || matches.isEmpty) errs += s"input file not readable: $f"
      } catch {
        case e: Exception => errs += s"input file not readable: $f (${e.getMessage})"
      }
    }
    if (spec.outputDir.isEmpty) errs += "output_dir missing"
    if (spec.nOutputFiles <= 0) errs += s"n_output_files must be positive, got ${spec.nOutputFiles}"
    if (spec.mapKilobytes <= 0) errs += s"map_kilobytes must be positive, got ${spec.mapKilobytes}"
    if (spec.userId.isEmpty) errs += "user_id missing"
    errs.result()
  }
}

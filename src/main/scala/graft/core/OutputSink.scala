package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset

/** F11/F12 — the exact-filename text sink.
  *
  * The reference contract (reference `src/master.h:110-113`,
  * `src/mr_tasks.h:112-115`, `description.md:56`): exactly R files named
  * `<outputDir>/output_<i>`, one line `key, value` per pair, rows sorted by
  * key within each file (the sort is the caller's job — [[Engine.transform]]
  * ends with `sortWithinPartitions`).
  *
  * Implemented with `foreachPartition` + the Hadoop FileSystem API so the
  * same code works on file:// in tests and hdfs://, s3a:// etc. on a real
  * cluster (executors write directly to shared storage; no driver collect).
  * Each task writes to a temp file and renames on success, so a retried or
  * speculatively duplicated task (C6/C7 in the reference's scheduler) cannot
  * leave a torn file — first rename wins, matching the reference's
  * duplicate-completion dedup (`src/master.h:324-332`).
  */
object OutputSink {

  def write(ds: Dataset[(String, String)], outputDir: String, sep: String = ", "): Unit = {
    val dirStr = outputDir
    // Driver prologue: create the directory and clear any previous run's
    // output_* / in-flight temp files, so a re-run (possibly with a smaller
    // R) can never leave stale files behind — `rename` does not overwrite on
    // every Hadoop FileSystem, so executors must find the destinations free.
    val dirPath = new Path(dirStr)
    val dfs = dirPath.getFileSystem(HadoopConf.shared)
    dfs.mkdirs(dirPath)
    dfs.globStatus(new Path(dirPath, "{output_*,.output_*}"))
      .foreach(st => dfs.delete(st.getPath, false))

    ds.foreachPartition { (it: Iterator[(String, String)]) =>
      val tc = TaskContext.get()
      val pid = tc.partitionId()
      val dir = new Path(dirStr)
      // newInstance, not getFileSystem: the cached instance is shared
      // JVM-wide, and setWriteChecksum on it would silently disable .crc
      // sidecars for every other writer in this executor. The instance gets
      // its own copy of the shared conf, not a freshly parsed one.
      val fs = org.apache.hadoop.fs.FileSystem.newInstance(dir.toUri, new Configuration(HadoopConf.shared))
      // No sidecar .crc files — the contract is exactly R files (F12).
      fs.setWriteChecksum(false)
      val tmp = new Path(dir, s".output_${pid}.attempt${tc.taskAttemptId()}")
      // The temp file goes and the private FileSystem closes on every path:
      // a loser of the rename race, and an attempt whose iterator throws.
      try {
        val out = fs.create(tmp, true)
        try {
          val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, "UTF-8"), 1 << 16)
          it.foreach { case (k, v) => w.write(k); w.write(sep); w.write(v); w.write('\n') }
          w.flush()
        } finally out.close()
        // First completed attempt wins.
        fs.rename(tmp, new Path(dir, s"output_$pid"))
      } finally {
        try fs.delete(tmp, false)
        finally fs.close()
      }
      ()
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Shared local-session construction for every entry point (Bench, Verify,
  * the test JVM, profiling tools), so engine-level session tuning is a
  * one-line change instead of a copy-paste hunt.
  *
  * The non-obvious confs and why they are SESSION construction, not
  * per-query side effects:
  *
  *  - `parquet.inferTimestampNTZ.enabled=false`: a micros timestamp column
  *    reads as TIMESTAMP (LTZ) whose `unix_micros` are the stored values
  *    verbatim — no session-timezone dependence, bit-identical to DuckDB's
  *    read of the same file for the oracle compare. Setting it here (and
  *    not only inside the events loader) keeps every table's column types
  *    independent of QUERY ORDER within a session — a loader-side set
  *    would flip lineitem/orders timestamps from NTZ to LTZ at whatever
  *    moment the first events query runs.
  *
  *  - `adaptive.coalescePartitions.minPartitionSize=16k`: AQE coalescing
  *    is byte-based (`parallelismFirst` floors at 1 MB); this engine's
  *    pipeline shuffles are CPU-dense per byte, so a 700 KB candidate-pair
  *    shuffle was coalescing to ONE task and serializing a whole
  *    exact-verify stage (q73 ran 43 s with 8 s and 15 s single-task
  *    stages; 2.5 s once the floor admits 32-way reads). Byte-tiny
  *    shuffles still coalesce; at production scale shuffles dwarf either
  *    floor.
  */
object Sessions {
  def local(master: String, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      // r17 (measured first): the generated-code compile cache is STATIC
      // and defaults to 100 entries — this engine's 209-query suite holds
      // thousands of distinct codegen units, so a round-robin pass
      // evicted everything and re-Janino'd the whole suite every
      // iteration (r17 measurement, 86-query subset: pass 2 recompiled
      // 1 803 of 2 230 units). Sized for a many-query analytics service;
      // metaspace cost is bounded (generated classes are small) and
      // irrelevant beside a 32g heap.
      .config("spark.sql.codegen.cache.maxEntries", 8192)
      // checkpoint checksums stay at Spark's default (ON) here: only the
      // ephemeral drain checkpoints turn them off
      // (graft.streaming.Events.streamSession), so a durable checkpoint
      // built on this factory never silently loses corruption detection
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

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
      // The generated-code compile cache is STATIC (one per JVM) and keyed
      // by (class loader, source). r17 measured its default 100 entries
      // evicting the suite on every round-robin pass (86-query subset:
      // pass 2 recompiled 1 803 of 2 230 units); a 209-query pass compiles
      // ~2.6k distinct units, hence 8192. Metaspace cost is bounded:
      // generated classes are small.
      .config("spark.sql.codegen.cache.maxEntries", 8192)
      // Artifact isolation off. With it on, every child session
      // (`newSession()`: Engine.scopedSession per MR job,
      // Events.streamSession per drain) got its own executor-side class
      // loader, so the cache above missed on every class of its plan and
      // Janino recompiled byte-identical sources, which then ran JIT-cold.
      // Measured on 4 cores: a repeated word-count job recompiled 9 (spec
      // path) or 17 (algebraic path) classes per call and q82 25 per
      // drain; with isolation off all compile 0 once warm, and the
      // perfbench wordcount pass median fell 2.45 -> 1.30 s. The engine
      // adds no session artifacts (no addArtifact/addJar), so there is
      // nothing to isolate.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Object-hash aggregation (typed aggregators with object buffers,
      // collect_list, the bounded collect) switches a task to sort-based
      // aggregation once it has seen this many keys; Spark's default is
      // 128. The near-dup postings group per shingle or band bucket: at
      // sf0.1 on 4 cores q17's (band, bkey) postings see ~40k keys per
      // task, so every map and reduce task sorted its rows and rebuilt its
      // buffers (15.6% of the perfbench queries workload's executor
      // samples; 0 at this value). The bound still matters: on
      // ScalingSmoke's 10x corpus the same postings pass it and fall back,
      // and without it (10^6) q17 took 2.5 s there instead of 1.9 s.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 131072)
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

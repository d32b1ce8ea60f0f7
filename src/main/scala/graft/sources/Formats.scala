package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.rel.Queries.table

/** Source/sink surface beyond the engine's newline-text contract: CSV,
  * JSON-lines, and parquet with explicit schemas, plus a partitioned
  * parquet layout for partition-pruned scans.
  *
  * Scale rules baked in:
  *  - readers take an explicit [[StructType]] — `inferSchema` would scan
  *    100 TB once just to guess types (and JSON inference samples rows,
  *    so it can't even be trusted);
  *  - the partitioned writer lays data out hive-style (`k=v` dirs) so a
  *    filter on the partition column prunes whole directories at
  *    planning time (asserted in FormatsSuite via `PartitionFilters`).
  */
object Formats {

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("mode", "FAILFAST") // corrupt rows fail loudly, not silently null
      .csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC round-trip — same explicit-schema discipline as the other
    * formats; ORC ships in Spark core and carries predicate pushdown and
    * column pruning like parquet (FormatsSuite pins PushedFilters on the
    * ORC scan).
    */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Size-bounded parquet shards — the output contract training-data
    * consumers want (a loader maps one shard to one worker, so shards
    * must be capped, not left to whatever a task happened to hold).
    * `maxRecordsPerFile` makes every task roll files at the cap; the
    * file COUNT still scales with parallelism, which is correct — a
    * single fixed file count would funnel 100 TB through few writers.
    */
  def writeSharded(df: DataFrame, path: String, maxRecordsPerFile: Long): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** Rows-per-shard cap for [[shardedRoundtrip]] — small enough that the
    * cap provably BITES at the verify/bench scale factors (each writing
    * task holds more rows than this, so `maxRecordsPerFile` must roll
    * files for the gate to pass).
    */
  val ShardCap = 100L

  /** Declared-query gate for [[writeSharded]] (q104): write the
    * documents table's (doc_id, md5(text)) through the size-capped
    * sharded sink, read the committed files back, and emit per row
    *  - the row identity columns (doc_id, text_hash) — any lost,
    *    duplicated, or corrupted row breaks the count/hash against the
    *    source-table oracle; and
    *  - `shard_capped` = this row's file holds ≤ [[ShardCap]] rows,
    *    computed from the ACTUAL committed files via the `_metadata`
    *    file path — a single over-cap shard flips rows to false and
    *    fails the hash.
    * The write repartitions to 2 tasks so each task's row count exceeds
    * the cap at sf ≥ 0.01 and the rolling behavior is genuinely
    * exercised (a 32-way write of the toy corpus would sit under the cap
    * per task and gate nothing); the per-file count aggregation is
    * |files| rows. Output goes to a fresh temp directory per call — the
    * write is part of what the query measures.
    */
  def shardedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft-sharded").toString
    val src = table(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
    writeSharded(src.repartition(2), out, ShardCap)
    val back = spark.read.parquet(out)
      .withColumn("f", col("_metadata.file_path"))
    val fileCounts = back.groupBy(col("f")).agg(count(lit(1)).as("n_in_file"))
    back
      .join(broadcast(fileCounts), "f")
      .select(
        col("doc_id"),
        col("text_hash"),
        (col("n_in_file") <= ShardCap).as("shard_capped"))
      .orderBy(col("doc_id"))
  }

  /** The struct-bearing parquet for [[nestedRoundtrip]], staged once per
    * sf dir: orders nested into two structs —
    * `meta(cust_key, status)` and `amount(price, odate)` — written once
    * and re-read by both the declared query and the PlanSuite pruning
    * pin. The testdata tables are all flat, so without this source the
    * nested-schema-pruning path (a first-class behavior for real
    * log/event schemas, which are deeply nested) would stay ungated.
    */
  def nestedOrdersPath(spark: SparkSession, dir: String): String =
    graft.Shared.staged(dir, "nested-orders") { out =>
      table(spark, dir, "orders")
        .select(
          col("o_orderkey"),
          struct(
            col("o_custkey").as("cust_key"),
            col("o_orderstatus").as("status")).as("meta"),
          struct(
            col("o_totalprice").as("price"),
            col("o_orderdate").as("odate")).as("amount"))
        .write.mode(SaveMode.Overwrite).parquet(out)
      out
    }

  /** Declared query (q155): nested-struct source + SCHEMA-PRUNED read.
    * Writes the struct-nested orders table, reads it back touching only
    * three of the four struct leaves (filter on `meta.status`, project
    * `meta.cust_key` and `amount.price`), and emits the flattened rows.
    * Catalyst's nested-schema pruning must narrow the parquet ReadSchema
    * to exactly the referenced leaves — `amount.odate` stays unread
    * (pinned in PlanSuite) — which at 100 TB is the difference between
    * scanning a leaf column and scanning every payload a struct drags
    * along. Hash-gated: the oracle recomputes the rows from the FLAT
    * orders table, so any nesting/unnesting corruption goes red.
    */
  def nestedRoundtrip(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(nestedOrdersPath(spark, dir))
      .filter(col("meta.status") === "F")
      .select(
        col("o_orderkey"),
        col("meta.cust_key").as("cust_key"),
        col("amount.price").as("price"))
      .orderBy(col("o_orderkey"))

  /** Hive-style partitioned parquet: one directory per distinct value of
    * `partitionCol`. Choose a column with bounded cardinality (a date, a
    * shard id) — per-key file counts are the classic small-files trap.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}

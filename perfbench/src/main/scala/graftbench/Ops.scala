package graftbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Engine, MapReduceSpec, OutputSink, Registry}
import graft.jobs.{WordCount, WordCountAlgebraic}

/** One benchmark operation: a call into one engine module that builds a
  * result, then an action that completes it. Both calls are timed as
  * spans named `<module>.<call>`; the returned thunk fingerprints the
  * result afterwards, outside the timed window.
  */
trait Op {
  def name: String
  def module: String
  def buildCall: String = "build"
  def build(spark: SparkSession): AnyRef
  def action(built: AnyRef, attrs: collection.mutable.Map[String, Double]): () => String
  /** Untimed: writes a checkable copy of the result under `dir` and returns
    * the fingerprint of what was written.
    */
  def validate(spark: SparkSession, dir: String): String
}

/** A declared query, `SparkEntry.queries(name)(spark, sfDir)`. The action
  * writes the result to Spark's noop sink, as `graft.Bench` does: every
  * row and projected column is computed and the plan keeps its final sort,
  * which an order-insensitive aggregate would let the optimizer drop. The
  * fingerprint is a separate execution, run by the returned thunk.
  */
final class QueryOp(val name: String, val module: String, sfDir: String) extends Op {
  def build(spark: SparkSession): AnyRef = SparkEntry.queries(name)(spark, sfDir)
  def action(built: AnyRef, attrs: collection.mutable.Map[String, Double]): () => String = {
    val df = built.asInstanceOf[DataFrame]
    df.write.format("noop").mode("overwrite").save()
    () => QueryOp.fingerprint(df)
  }
  def validate(spark: SparkSession, dir: String): String = {
    SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    QueryOp.fingerprint(spark.read.parquet(s"$dir/$name"))
  }
}

object QueryOp {
  /** `rows:sum(hash mod p):xor(hash)` over all columns; map columns (which
    * Spark cannot hash) go through `to_json` first.
    */
  def fingerprint(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (f.dataType.catalogString.contains("map<")) to_json(col(f.name)) else col(f.name)
    }
    val h = xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(pmod(h, lit(1000000007L))), bit_xor(h)).head()
    def long(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${long(0)}:${long(1)}:${long(2)}"
  }
}

/** The reference word-count job through the engine's public surface:
  * a `MapReduceSpec` read from an INI file, the job looked up by `user_id`
  * in the registry (or the algebraic variant), `Engine.transform*` as the
  * build call and `OutputSink.write` as the action.
  */
final class WordCountOp(val name: String, configFile: String, algebraic: Boolean) extends Op {
  val module = "core"
  override def buildCall = "transform"

  private def spec(outDir: Option[String]): MapReduceSpec = {
    val s = MapReduceSpec.fromConfigFile(configFile)
    val errs = MapReduceSpec.validate(s)
    require(errs.isEmpty, errs.mkString("; "))
    outDir.fold(s)(d => s.copy(outputDir = d))
  }
  private def transform(spark: SparkSession, s: MapReduceSpec): Dataset[(String, String)] =
    if (algebraic) Engine.transformAlgebraic(spark, s, WordCountAlgebraic)
    else Engine.transform(spark, s, Registry.get(s.userId).get)

  def build(spark: SparkSession): AnyRef = {
    val s = spec(None)
    (s, transform(spark, s))
  }

  def action(built: AnyRef, attrs: collection.mutable.Map[String, Double]): () => String = {
    val (s, ds) = built.asInstanceOf[(MapReduceSpec, Dataset[(String, String)])]
    OutputSink.write(ds, s.outputDir)
    val files = WordCountOp.outputs(s.outputDir, s.nOutputFiles)
    attrs("output_bytes") = files.map(Files.size(_).toDouble).sum
    () => WordCountOp.digest(files)
  }

  def validate(spark: SparkSession, dir: String): String = {
    val s = spec(Some(s"$dir/$name"))
    OutputSink.write(transform(spark, s), s.outputDir)
    WordCountOp.digest(WordCountOp.outputs(s.outputDir, s.nOutputFiles))
  }
}

object WordCountOp {
  def register(): Unit = Registry.register("wordcount", WordCount)
  def outputs(dir: String, r: Int): Seq[Path] = (0 until r).map(i => Paths.get(dir, s"output_$i"))
  def digest(files: Seq[Path]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.foreach { f => md.update(f.getFileName.toString.getBytes); md.update(Files.readAllBytes(f)) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}

object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** The histogram keeps a sample, not a sum: compile time is estimated
    * as new compilations times the sampled mean (milliseconds).
    */
  def estimateMs(newCompiles: Long): Double =
    if (newCompiles == 0) 0.0 else newCompiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
}

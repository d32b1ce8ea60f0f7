package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one registry for artifacts shared between queries: token
  * postings, shingle sets, vector frames, trained codebooks, staged
  * layouts and micro-batch feeds. It is the only place that knows how
  * such an artifact is keyed, how concurrent builds are serialized, how
  * a hit is validated and how the artifact is released.
  *
  * Two scopes:
  *  - [[session]]: a value per (session, dataset dir, name) — persisted
  *    frames and driver-side arrays. A frame belongs to the session that
  *    planned it, so a new session rebuilds.
  *  - [[staged]]: an on-disk artifact per (dataset dir, name) for the
  *    life of the JVM — a pure function of the dataset dir, shared by
  *    every session. The registry creates the temp root, the build fills
  *    it, and a [[Marker]] file is written after the build returns. A hit
  *    whose marker is gone (tmp pruning, an external cleanup) is rebuilt
  *    once instead of serving a dead path. The marker's leading `_` keeps
  *    it out of Spark's file listings, so feeds are read straight from
  *    the root.
  *  - [[parquetSchema]]: the schema parquet inference returns for a path,
  *    once per (path, its data files, the session's reader confs) for the
  *    life of the JVM. Inference is a footer-reading Spark job (~50 ms
  *    warm on 4 cores) that `read.parquet` would otherwise launch on every call.
  *
  * Builds nest (`docLengths` reads `termFreq`): the map only inserts a
  * cheap holder and each build runs under its holder's own lock, so
  * concurrent callers of one key share one build while other keys —
  * including the ones a build itself asks for — proceed. A build that
  * throws leaves nothing cached; the next call builds again.
  *
  * [[clear]] is the hook a long-lived service calls when datasets are
  * retired: it unpersists every frame held (inside tuples too), deletes
  * every root the registry created and forgets every entry.
  */
object Shared {

  /** Completion marker written into a staged root after its build. */
  val Marker = "_READY"

  // the build closure is dropped once it succeeds: it may capture the
  // first caller's frames and session, which the entry must not pin
  private final class Holder(private var build: () => AnyRef) {
    @volatile private var v: AnyRef = _
    def peek: Option[AnyRef] = Option(v)
    def value: AnyRef = {
      if (v == null) synchronized { if (v == null) { v = build(); build = null } }
      v
    }
  }

  private final case class Staged(root: Path, value: AnyRef)

  private val entries = scala.collection.concurrent.TrieMap.empty[Any, Holder]

  private def force(key: Any, h: Holder): AnyRef =
    try h.value
    catch { case e: Throwable => entries.remove(key, h); throw e }

  /** The value `build` returns, built once per (session, dir, name). */
  def session[T <: AnyRef](spark: SparkSession, dir: String, name: String)(build: => T): T = {
    val key = (spark, dir, name)
    force(key, entries.getOrElseUpdate(key, new Holder(() => build))).asInstanceOf[T]
  }

  /** The value `build(root)` returns, built once per (dir, name) into a
    * fresh temp `root`, and built again if the root lost its [[Marker]].
    */
  def staged[T <: AnyRef](dir: String, name: String)(build: String => T): T = {
    val key = (dir, name)
    val h = entries.getOrElseUpdate(key, new Holder(() => {
      val root = Files.createTempDirectory(s"graft-${name.replaceAll("[^A-Za-z0-9_-]", "_")}-")
      try {
        val v = build(root.toString)
        Files.createFile(root.resolve(Marker))
        Staged(root, v)
      } catch { case e: Throwable => streaming.Snapshot.deleteRecursively(root); throw e }
    }))
    val s = force(key, h).asInstanceOf[Staged]
    if (Files.exists(s.root.resolve(Marker))) s.value.asInstanceOf[T]
    else {
      if (entries.remove(key, h)) streaming.Snapshot.deleteRecursively(s.root)
      staged(dir, name)(build)
    }
  }

  /** The session confs that shape what parquet inference returns. */
  private def readerConf(k: String): Boolean =
    k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive"

  private final case class SchemaKey(path: String, files: Seq[(String, Long, Long)], conf: Map[String, String])

  /** The schema `spark.read.parquet(path)` infers, inferred once per
    * qualified path, listing of its data files (name, length, mtime) and
    * reader confs. Every call re-lists the path, so a rewritten file or a
    * changed conf is a miss and is inferred again, never served stale.
    * The entry of a superseded listing stays until [[clear]]: only input
    * tables and staged feeds, which are never rewritten, read through here.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(p)
    val key = SchemaKey(q.toString, dataFiles(fs, q), spark.conf.getAll.filter { case (k, _) => readerConf(k) })
    force(key, entries.getOrElseUpdate(key, new Holder(() => spark.read.parquet(path).schema)))
      .asInstanceOf[StructType]
  }

  // the leaf files Spark's listing reads: `_`- and `.`-prefixed names
  // (markers, checksums, commit files) are skipped, as Spark skips them
  private def dataFiles(fs: FileSystem, p: HPath): Seq[(String, Long, Long)] =
    fs.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { f =>
      val name = f.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (f.isDirectory) dataFiles(fs, f.getPath)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    }

  /** Releases and forgets every entry; the next call of each key rebuilds. */
  def clear(): Unit = entries.foreach { case (k, h) =>
    if (entries.remove(k, h)) h.peek.foreach(release)
  }

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => ds.unpersist()
    case Staged(root, value) => release(value); streaming.Snapshot.deleteRecursively(root)
    case p: Product => p.productIterator.foreach(release)
    case _ =>
  }
}

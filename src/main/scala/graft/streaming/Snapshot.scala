package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-committed, versioned parquet snapshot — the transactional
  * commit layer under the q156 streaming MERGE sink (and the q177
  * time-travel read). The layout is the minimal form of what
  * table formats (Iceberg/Delta-style) do at warehouse scale:
  *
  * {{{
  * root/
  *   CURRENT            — the committed version number (pointer file)
  *   manifest-v{N}.txt  — immutable: one "partition dir" line per part
  *                        (+ an optional `schema <file>` header line)
  *   a-{token}/__part={p}/ — immutable data directories, named by the
  *                        WRITER's attempt token, never by version
  *   v0/__part={p}/     — init's bootstrap data directories
  *   schema-{token}.json — immutable schema sidecars (referenced by
  *                        manifest header; unreferenced ones are inert)
  * }}}
  *
  * COMMIT PROTOCOL — optimistic concurrency, safe under RACING writers
  * (a MERGE drain and a compaction hitting the same table is the first
  * thing a real deployment does):
  *
  *  1. read `CURRENT` (the base version) and its manifest;
  *  2. write the new version's data into a PRIVATE attempt directory
  *     `a-{token}` (token = per-attempt random id). Data dirs are never
  *     version-named, so concurrent attempts can never collide on a
  *     path and a crashed attempt leaves only inert, unreferenced
  *     garbage — it can never obstruct or corrupt a later commit;
  *  3. CLAIM version base+1 by creating `manifest-v{base+1}.txt` via
  *     hard-link from a fully-written temp file — one atomic filesystem
  *     op that both claims the version exclusively (link() fails with
  *     EEXIST for every racer) and guarantees the manifest's content is
  *     complete (no partially-written manifest can ever carry a claim).
  *     Because data and sidecars are fully written BEFORE the claim, a
  *     claimed manifest always describes a complete, readable version;
  *  4. publish by atomically renaming a temp pointer onto `CURRENT` —
  *     validated and monotone (file-locked read-check-rename): a
  *     publish can never move `CURRENT` backwards or skip a version.
  *
  * A writer whose claim fails lost the race: it deletes its private
  * attempt dir (nobody else references it), ROLLS FORWARD the winner's
  * claimed-but-possibly-unpublished version (safe: claimed == complete,
  * and publishing is idempotent/monotone), and retries against the new
  * base — [[commitOcc]] is that loop. Exactly one writer wins each
  * version; the loser's retry lands on the next one; no committed
  * version or data is ever lost or overwritten.
  *
  * Readers are never blocked and never see a partial state: they
  * resolve `CURRENT` to a fully-written manifest whose directories are
  * all complete. A crash anywhere before the claim leaves `CURRENT`
  * unchanged with only unreferenced garbage on disk ([[sweepUncommitted]]
  * is the operator-run cleanup); a crash between claim and publish is
  * completed by the next writer's roll-forward. Old versions stay
  * readable by manifest — time travel — until a retention GC deletes
  * their manifests and any dirs no retained manifest references.
  *
  * At 100 TB nothing here grows with the table: a manifest is one line
  * per partition, data dirs are written by ordinary distributed parquet
  * jobs, and the commit itself is two driver-side metadata writes + one
  * rename.
  */
object Snapshot {

  /** Manifest marker for a partition with no rows (all keys deleted). */
  val EmptyDir = "-"

  /** @param schemaFile the schema sidecar serving this version (None =
    *   the table never evolved: read exactly the physical schema).
    *   Carried forward by every commit like the partition dirs.
    * @param committedAtMillis wall-clock commit stamp, written by the
    *   CLAIM itself (callers never supply it) — the `TIMESTAMP AS OF`
    *   axis. None only for manifests written before stamping existed.
    */
  final case class Manifest(version: Int, parts: Map[Int, String],
      schemaFile: Option[String] = None,
      committedAtMillis: Option[Long] = None)

  /** Race-tolerant recursive delete (deleteIfExists per entry) — the
    * ONE copy of the walk/reverse-sort/delete idiom, shared with
    * [[Events]] and [[graft.Shared]].
    */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.deleteIfExists(x))
      finally walk.close()
    }

  private def currentPath(root: String) =
    java.nio.file.Paths.get(root, "CURRENT")
  private def manifestPath(root: String, v: Int) =
    java.nio.file.Paths.get(root, s"manifest-v$v.txt")

  /** Fresh attempt token: 64 random bits — unique among all data dirs
    * a table will ever commit (a collision would surface as an
    * ErrorIfExists on the attempt write, never as silent mixing).
    */
  private def newToken(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  // ---- SCHEMA EVOLUTION -------------------------------------------------
  //
  // A version's manifest may reference a schema sidecar (Spark
  // StructType JSON, immutable like the manifest) through its `schema`
  // header line; every subsequent commit carries the reference forward
  // exactly like the partition dirs, so the SERVING schema is part of
  // the version by construction — time travel below an evolution
  // serves the old schema, and a sidecar no manifest references is
  // inert garbage (a lost evolve race can never attach its schema to
  // someone else's commit). Tables that never evolved carry no
  // reference and read exactly as before (plain multi-dir parquet
  // read, zero overhead). Evolution is a METADATA-ONLY commit: no data
  // file is touched; old files simply lack added columns and serve
  // NULL for them through a mergeSchema read conformed to the serving
  // schema.

  /** The serving schema of `version`, if the table had evolved by then. */
  def servingSchema(root: String, version: Int): Option[org.apache.spark.sql.types.StructType] =
    readManifest(root, version).schemaFile.map { f =>
      org.apache.spark.sql.types.DataType.fromJson(
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(root, f)),
          java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** ADD COLUMN as a transactional commit: the new version carries
    * every partition dir forward VERBATIM (zero data rewrite — the
    * Iceberg discipline) plus a schema sidecar extending the serving
    * schema with the new nullable column. Readers at or above the
    * commit see the column (NULL until writers backfill it); time
    * travel below it still serves the old schema. Returns the
    * committed version.
    */
  def evolveAddColumn(
      spark: SparkSession, root: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Int =
    evolveSchema(spark, root) { base =>
      requireNameFree(base, name)
      base.add(name, dataType, nullable = true)
    }

  /** Field-metadata key listing a renamed column's PRIOR physical
    * names, most recent first — the name-mapping RENAME leaves behind
    * instead of rewriting files.
    */
  private val PriorNamesKey = "graftPriorNames"

  private def priorNames(f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(PriorNamesKey))
      f.metadata.getStringArray(PriorNamesKey).toSeq
    else Nil

  /** Field-metadata key marking a DROPPED column: the field stays in
    * the sidecar as a TOMBSTONE — its name and prior physical names
    * remain reserved (old files still hold the physical column, so
    * re-adding the name would resurrect dead data) — but it is excluded
    * from the serving projection, from the read schema (never even
    * scanned — dropping is also a column-pruning win), and from every
    * evolution's view of the declared columns.
    */
  private val DroppedKey = "graftDropped"

  private def isDropped(f: org.apache.spark.sql.types.StructField): Boolean =
    f.metadata.contains(DroppedKey) && f.metadata.getBoolean(DroppedKey)

  /** The widenings the parquet reader performs losslessly when handed
    * an explicit wider read schema (verified against Spark 4.1's
    * vectorized reader): integral up-casts and float→double.
    */
  private def canWiden(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val integral = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    val (fi, ti) = (integral.indexOf(from), integral.indexOf(to))
    (fi >= 0 && ti > fi) || (from == FloatType && to == DoubleType)
  }

  /** Reject a new declared name that collides with ANY name still in
    * use — declared names AND every prior physical name a rename left
    * behind in old data files. Declared-only checking would let
    * `rename(b→a)` after `rename(a→c)` (or `add("amt")` after
    * `rename(amt→amount)`) resolve against the WRONG era's physical
    * column and silently serve another column's data.
    */
  private def requireNameFree(
      base: org.apache.spark.sql.types.StructType, name: String): Unit = {
    val inUse = base.fields.flatMap(f => f.name +: priorNames(f)).toSet
    require(!inUse(name),
      s"column name $name is still in use (declared or as a renamed " +
        s"column's physical name in old files): ${inUse.mkString(", ")}")
  }

  /** The ONE schema-evolution commit protocol every evolution shares:
    * resolve the serving schema (donor-bootstrapped for tables that
    * never evolved), apply `transform`, write the evolved schema as an
    * attempt-token-named sidecar (inert until referenced), and commit a
    * pure carry-forward manifest referencing it — all under the
    * [[commitOcc]] race loop.
    */
  private def evolveSchema(spark: SparkSession, root: String)(
      transform: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType): Int =
    commitOcc(root) { att =>
      val base = servingSchema(root, att.base.version).getOrElse {
        val donor = att.base.parts.toSeq.sortBy(_._1).collectFirst {
          case (_, d) if d != EmptyDir => d
        }
        require(donor.nonEmpty, "cannot evolve an all-empty never-evolved table")
        spark.read.parquet(s"$root/${donor.get}").schema
      }
      val evolved = transform(base)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, att.schemaFileName),
        evolved.json.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      Some(CommitSpec(att.base.parts, Some(att.schemaFileName)))
    }

  /** RENAME COLUMN as a transactional metadata-only commit: the new
    * version carries every partition dir forward verbatim plus a schema
    * sidecar in which the field is renamed and its prior physical
    * names recorded in field metadata — zero data rewrite; old files
    * keep serving their rows under the old physical name, conformed to
    * the new declared name at read time. Chains compose (a column
    * renamed twice accumulates both priors), and time travel below the
    * commit serves the old name by construction. Returns the committed
    * version.
    */
  def evolveRenameColumn(
      spark: SparkSession, root: String, from: String, to: String): Int =
    evolveSchema(spark, root) { base =>
      requireDeclared(base, from, "rename")
      requireNameFree(base, to)
      org.apache.spark.sql.types.StructType(base.fields.map { f =>
        if (f.name != from) f
        else f.copy(name = to, metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putStringArray(PriorNamesKey, (f.name +: priorNames(f)).toArray)
            .build())
      })
    }

  /** The evolvable (declared, non-tombstoned) column `name`, or a clear
    * failure — dropped columns are not evolvable (their tombstone only
    * reserves names).
    */
  private def requireDeclared(
      base: org.apache.spark.sql.types.StructType, name: String,
      what: String): Unit =
    require(base.fields.exists(f => f.name == name && !isDropped(f)),
      s"no column $name to $what")

  /** DROP COLUMN as a transactional metadata-only commit: the field
    * becomes a TOMBSTONE in the sidecar — excluded from the serving
    * projection and from the read schema (old files' physical column is
    * never even scanned again), while its name and prior physical names
    * stay reserved so no later ADD/RENAME can resurrect dead data.
    * Zero data rewrite; time travel below the commit still serves the
    * column by construction. Returns the committed version.
    */
  def evolveDropColumn(spark: SparkSession, root: String, name: String): Int =
    evolveSchema(spark, root) { base =>
      requireDeclared(base, name, "drop")
      org.apache.spark.sql.types.StructType(base.fields.map { f =>
        if (f.name != name) f
        else f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putBoolean(DroppedKey, true)
            .build())
      })
    }

  /** TYPE WIDENING (INT→BIGINT and friends) as a transactional
    * metadata-only commit: the declared type widens in the sidecar;
    * old files keep their narrow physical type and the read path hands
    * the parquet scan the WIDE type explicitly (the reader up-casts
    * losslessly — the reason [[readSchema]] drives an explicit-schema
    * scan instead of mergeSchema, which refuses to merge INT32 and
    * INT64 footers). Only lossless widenings are legal ([[canWiden]]);
    * narrowing fails loudly. Zero data rewrite; time travel below the
    * commit serves the narrow type. Returns the committed version.
    */
  def evolveWidenColumn(
      spark: SparkSession, root: String, name: String,
      to: org.apache.spark.sql.types.DataType): Int =
    evolveSchema(spark, root) { base =>
      requireDeclared(base, name, "widen")
      val f = base.fields.find(_.name == name).get
      require(canWiden(f.dataType, to),
        s"cannot widen $name from ${f.dataType.simpleString} to " +
          s"${to.simpleString}: only lossless widenings " +
          "(byte<short<int<long, float<double) are supported")
      org.apache.spark.sql.types.StructType(base.fields.map { g =>
        if (g.name != name) g else g.copy(dataType = to)
      })
    }

  /** The EXPLICIT read schema for an evolved table's scan: every
    * declared (non-dropped) column under its declared name AND every
    * prior physical name, all at the DECLARED (widened) type. Handing
    * the parquet scan this schema replaces mergeSchema entirely — no
    * footer-merge job, files missing a column serve NULL, narrow
    * physical types up-cast losslessly, and dropped columns are never
    * even read.
    */
  private def readSchema(
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(isDropped).flatMap { f =>
        (f.name +: priorNames(f)).map(n =>
          org.apache.spark.sql.types.StructField(n, f.dataType, nullable = true))
      })

  /** One evolved-table scan: explicit [[readSchema]] over the dirs,
    * conformed to the serving projection.
    */
  private def conformedRead(
      spark: SparkSession, dirs: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    conform(spark.read.schema(readSchema(schema)).parquet(dirs: _*), schema)

  /** Conform a frame to the serving schema: dropped columns are
    * excluded, columns the physical files predate are added as typed
    * NULLs, renamed columns resolve through their prior physical names
    * (coalesce, newest first — any one row carries exactly one of
    * them, since every writer wrote its era's serving name), every
    * column is cast to its DECLARED (possibly widened) type, and the
    * projection fixes the declared column order.
    */
  private def conform(
      df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val have = df.columns.toSet
    val cols = schema.fields.filterNot(isDropped).map { f =>
      val present = (f.name +: priorNames(f)).filter(have)
      present match {
        case Nil => lit(null).cast(f.dataType).as(f.name)
        case Seq(one) => col(one).cast(f.dataType).as(f.name)
        case many => coalesce(many.map(col): _*).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  def currentVersion(root: String): Int =
    new String(java.nio.file.Files.readAllBytes(currentPath(root)),
      java.nio.charset.StandardCharsets.US_ASCII).trim.toInt

  private def currentVersionOrNeg(root: String): Int =
    try currentVersion(root)
    catch { case _: java.nio.file.NoSuchFileException => -1 }

  def readManifest(root: String, version: Int): Manifest = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(manifestPath(root, version))
      .asScala.filter(_.nonEmpty)
    val schemaFile = lines.collectFirst {
      case l if l.startsWith("schema ") => l.stripPrefix("schema ")
    }
    val committedAt = lines.collectFirst {
      case l if l.startsWith("at ") => l.stripPrefix("at ").toLong
    }
    val parts = lines
      .filterNot(l => l.startsWith("schema ") || l.startsWith("at "))
      .map { line =>
        val Array(p, d) = line.split(" ", 2)
        p.toInt -> d
      }.toMap
    Manifest(version, parts, schemaFile, committedAt)
  }

  private def manifestBody(m: Manifest): String =
    m.committedAtMillis.map(t => s"at $t\n").getOrElse("") +
      m.schemaFile.map(f => s"schema $f\n").getOrElse("") +
      m.parts.toSeq.sortBy(_._1)
        .map { case (p, d) => s"$p $d" }.mkString("", "\n", "\n")

  /** Atomically CLAIM version `m.version` with a fully-written
    * manifest: the body lands in a temp file first, then a hard link
    * creates the final name — one atomic op that fails (returns false)
    * if ANY racer claimed the version first, and can never expose a
    * partially-written manifest under the claimed name.
    */
  private def claimManifest(root: String, m: Manifest): Boolean = {
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(root), s".manifest-v${m.version}-", ".tmp")
    // the CLAIM stamps commit time — callers never supply it — CLAMPED
    // to strictly-after the previous version's stamp: wall clocks are
    // not monotone (NTP step-back, skew between the processes the
    // claim protocol supports), and versionAsOf's walk-down-from-
    // CURRENT is only correct when the stamp axis is monotone with the
    // version order, so monotonicity is enforced at the source
    val prevStamp =
      if (m.version > 0 &&
        java.nio.file.Files.exists(manifestPath(root, m.version - 1)))
        readManifest(root, m.version - 1).committedAtMillis
      else None
    val stamped = m.copy(committedAtMillis = m.committedAtMillis.orElse(
      Some(math.max(System.currentTimeMillis(), prevStamp.getOrElse(0L) + 1))))
    try {
      java.nio.file.Files.write(tmp,
        manifestBody(stamped).getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      try { java.nio.file.Files.createLink(manifestPath(root, m.version), tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally java.nio.file.Files.deleteIfExists(tmp): Unit
  }

  /** Manifests are immutable: written once under their final name,
    * never rewritten — the atomic claim enforces it (a second write of
    * the same version throws).
    */
  def writeManifest(root: String, m: Manifest): Unit =
    if (!claimManifest(root, m))
      throw new java.nio.file.FileAlreadyExistsException(
        manifestPath(root, m.version).toString,
        null, "manifests are immutable: version already claimed")

  // ---- the OCC commit loop ---------------------------------------------

  /** A writer's private workspace for one commit attempt at `version`:
    * data goes under [[dataDir]] (`a-{token}` — never version-named, so
    * racing attempts cannot collide and crashed ones cannot obstruct),
    * an evolved schema under [[schemaFileName]]. Both are inert until a
    * winning manifest references them.
    */
  final class Attempt private[Snapshot] (
      val root: String, val base: Manifest, val version: Int, val token: String) {
    /** Absolute path of the attempt's private data directory. */
    def dataDir: String = s"$root/a-$token"
    /** The manifest value for a partition written into [[dataDir]]. */
    def dirName(p: Int): String = s"a-$token/__part=$p"
    /** The attempt's schema sidecar name (for evolution commits). */
    def schemaFileName: String = s"schema-$token.json"
    /** The partitions actually written under [[dataDir]] (from the
      * filesystem listing — a written-but-empty partition is absent),
      * mapped to their manifest dir names.
      */
    def writtenParts(): Map[Int, String] = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(dataDir)
      if (!java.nio.file.Files.isDirectory(d)) Map.empty
      else {
        val stream = java.nio.file.Files.list(d)
        try stream.iterator().asScala
          .filter(p => java.nio.file.Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("__part="))
          .map { p =>
            val v = p.getFileName.toString.stripPrefix("__part=").toInt
            v -> dirName(v)
          }.toMap
        finally stream.close()
      }
    }
  }

  /** What a commit attempt wants committed: the FULL parts map
    * (touched partitions naming attempt dirs, untouched carrying the
    * base's dirs forward) and optionally a NEW schema sidecar (None =
    * carry the base's schema reference forward).
    */
  final case class CommitSpec(
      parts: Map[Int, String], schemaFile: Option[String] = None)

  /** Retry bound for [[commitOcc]] — losing this many consecutive
    * races means pathological contention, not bad luck.
    */
  val MaxCommitAttempts = 10

  /** OPTIMISTIC-CONCURRENCY COMMIT — the one safe way to commit a new
    * version. Runs `write` against the current base manifest with a
    * fresh private [[Attempt]]; `write` stages data/sidecars in the
    * attempt's namespace and returns the [[CommitSpec]] to commit (or
    * None to abort without committing — the no-op compaction case).
    * The claim is atomic; on losing a race the attempt's private
    * output is deleted, the winner's version is rolled forward, and
    * `write` re-runs against the NEW base — so a MERGE loser re-merges
    * against the winner's state, never on top of a stale snapshot.
    * Returns the committed version (the base version on abort).
    */
  def commitOcc(root: String)(write: Attempt => Option[CommitSpec]): Int = {
    var attempts = 0
    while (true) {
      rollForward(root)
      val cur = currentVersion(root)
      val att = new Attempt(root, readManifest(root, cur), cur + 1, newToken())
      def cleanup(): Unit = {
        deleteRecursively(java.nio.file.Paths.get(att.dataDir))
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(root, att.schemaFileName)): Unit
      }
      // a failing write must not leak its fully-staged attempt dir —
      // at-least-once redelivery would otherwise accumulate one orphan
      // copy of the touched partitions per transient failure (the old
      // clearUncommitted path self-cleaned; OCC must too). NonFatal
      // only, and a cleanup failure is SUPPRESSED onto the root cause,
      // never replacing it (a full/read-only filesystem fails both).
      val spec =
        try write(att)
        catch {
          case scala.util.control.NonFatal(t) =>
            try cleanup() catch { case s: Throwable => t.addSuppressed(s) }
            throw t
        }
      spec match {
        case None => cleanup(); return cur
        case Some(spec) =>
          val m = Manifest(att.version, spec.parts,
            spec.schemaFile.orElse(att.base.schemaFile))
          if (claimManifest(root, m)) {
            swapCurrent(root, att.version)
            return att.version
          }
          // lost the race: private garbage only — delete and rebase
          cleanup()
          attempts += 1
          if (attempts >= MaxCommitAttempts)
            throw new java.util.ConcurrentModificationException(
              s"lost $attempts consecutive commit races at $root — " +
                "pathological writer contention")
      }
    }
    -1 // unreachable
  }

  /** Publish every claimed-but-unpublished successor version. Safe for
    * ANYONE to call at any time: a claimed manifest always describes a
    * complete version (data + sidecars land before the claim), and
    * [[swapCurrent]] is validated and monotone, so racing roll-forwards
    * and the claimant's own publish all collapse to one outcome.
    * Returns the resulting CURRENT version.
    */
  def rollForward(root: String): Int = {
    var cur = currentVersion(root)
    while (java.nio.file.Files.exists(manifestPath(root, cur + 1))) {
      swapCurrent(root, cur + 1)
      cur = currentVersion(root)
    }
    cur
  }

  /** Per-root intra-JVM monitor: FileLock is process-scoped (a second
    * lock attempt in the same JVM throws OverlappingFileLockException),
    * so same-process writers serialize on this first.
    */
  private val rootMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def monitorFor(root: String): Object =
    rootMonitors.computeIfAbsent(
      java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString,
      _ => new Object)

  /** THE publish point: atomically rename a temp pointer onto CURRENT —
    * VALIDATED and MONOTONE under a commit lock (JVM monitor + file
    * lock): publishing an already-published version is a no-op (a
    * roll-forward racing the claimant), CURRENT can never move
    * backwards, and a non-sequential publish (version > CURRENT+1,
    * which no correct writer can produce) fails loudly. Readers
    * resolve either the old or the new version — never a partial
    * state.
    */
  def swapCurrent(root: String, version: Int): Unit =
    monitorFor(root).synchronized {
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(root, ".commit.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          val cur = currentVersionOrNeg(root)
          if (version <= cur) return // already published (idempotent)
          require(version == cur + 1,
            s"non-sequential publish at $root: CURRENT=$cur, tried v$version")
          val tmp = java.nio.file.Paths.get(root, s"CURRENT.tmp-${newToken()}")
          java.nio.file.Files.write(tmp, version.toString
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          java.nio.file.Files.move(tmp, currentPath(root),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
        } finally lock.release()
      } finally ch.close()
    }

  /** Remove crash leftovers nothing references: attempt data dirs and
    * schema sidecars no on-disk manifest names, plus stray temp files.
    * Rolls forward first, so a claimed-unpublished commit is completed,
    * never swept. OPERATOR-RUN ONLY, with no writers racing: an
    * in-flight attempt's dir is indistinguishable from a crashed one by
    * design (both are unreferenced) — the difference is the operator's
    * knowledge that no writer is live. Nothing ever REQUIRES this
    * sweep: unreferenced garbage can never obstruct or corrupt a
    * commit; this only reclaims disk.
    */
  def sweepUncommitted(root: String): Unit = {
    rollForward(root)
    import scala.jdk.CollectionConverters._
    def ls(): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try s.iterator().asScala.toSeq finally s.close()
    }
    val entries = ls()
    val manifests = entries.map(_.getFileName.toString)
      .filter(n => n.startsWith("manifest-v") && n.endsWith(".txt"))
      .map(n => n.stripPrefix("manifest-v").stripSuffix(".txt").toInt)
    val referencedDirs = manifests.flatMap(v => readManifest(root, v).parts.values)
      .filter(_ != EmptyDir).map(_.split("/", 2)(0)).toSet
    val referencedSchemas =
      manifests.flatMap(v => readManifest(root, v).schemaFile).toSet
    entries.foreach { p =>
      val n = p.getFileName.toString
      val garbage =
        (n.startsWith("a-") && java.nio.file.Files.isDirectory(p) &&
          !referencedDirs(n)) ||
          (n.startsWith("schema-") && n.endsWith(".json") &&
            !referencedSchemas(n)) ||
          n.startsWith(".manifest-") || n.startsWith("CURRENT.tmp-")
      if (garbage) deleteRecursively(p)
    }
  }

  /** Retention GC: keep the last `keepLast` committed versions (their
    * manifests and every data directory any of them references — carry-
    * forward means an old dir can serve a new manifest), delete the
    * expired manifests, the data dirs ONLY THEY referenced, and the
    * schema sidecars only they referenced. Bounds the disk footprint of
    * a long streaming drain at O(keepLast × churn).
    *
    * RACE-SAFE BY CONSTRUCTION: the deletion set is derived from the
    * expired manifests themselves (read before deletion), so a dir no
    * manifest ever referenced — a racing writer's in-flight attempt, or
    * a crashed one — is never touched ([[sweepUncommitted]] is the
    * explicit tool for those). Rolls forward first so a claimed-
    * unpublished commit is counted as newest, not expired. If every
    * retained manifest maps every partition to the empty marker (a
    * fully-deleted table), one expired data directory is retained as
    * the SCHEMA DONOR so [[read]] can keep serving the typed empty
    * frame.
    */
  def gc(root: String, keepLast: Int): Unit = {
    require(keepLast >= 1, "must keep at least the current version")
    val cur = rollForward(root)
    val keepFrom = math.max(0, cur - keepLast + 1)
    import scala.jdk.CollectionConverters._
    val onDisk: Seq[Int] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("manifest-v") && n.endsWith(".txt"))
        .map(_.stripPrefix("manifest-v").stripSuffix(".txt").toInt)
        .toSeq
      finally s.close()
    }
    val (expiredV, retainedV) = onDisk.partition(_ < keepFrom)
    val retained = retainedV.map(readManifest(root, _))
    val expired = expiredV.map(readManifest(root, _))
    val keepDirs = retained.flatMap(_.parts.values).filter(_ != EmptyDir).toSet
    val keepSchemas = retained.flatMap(_.schemaFile).toSet
    val expiredDirs = expired.flatMap(_.parts.values).filter(_ != EmptyDir).toSet
    val expiredSchemas = expired.flatMap(_.schemaFile).toSet
    // schema donor for an all-empty retention set: newest-named
    // expired dir survives so the typed empty frame stays servable
    val donor: Set[String] =
      if (keepDirs.nonEmpty) Set.empty
      else expiredDirs.toSeq.sorted.lastOption.toSet
    // dirs BEFORE manifests: a crash between the two leaves expired
    // manifests referencing already-deleted dirs, which the next gc
    // re-reads and finishes (deleteRecursively no-ops on missing) —
    // the reverse order would strand the dirs forever, since the
    // deletion set is derived from the manifests themselves
    (expiredDirs -- keepDirs -- donor).foreach { d =>
      deleteRecursively(java.nio.file.Paths.get(root, d))
      // a parent attempt/version dir with no partitions left is
      // garbage wholesale (incl. its _SUCCESS marker)
      val parent = java.nio.file.Paths.get(root, d.split("/", 2)(0))
      if (java.nio.file.Files.isDirectory(parent)) {
        val s = java.nio.file.Files.list(parent)
        val hasParts =
          try s.iterator().asScala.exists(
            _.getFileName.toString.startsWith("__part="))
          finally s.close()
        if (!hasParts) deleteRecursively(parent)
      }
    }
    (expiredSchemas -- keepSchemas).foreach(f =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(root, f)): Unit)
    expiredV.foreach(v =>
      java.nio.file.Files.deleteIfExists(manifestPath(root, v)): Unit)
  }

  /** Result of a [[compact]] pass: live data-file counts before/after
    * and which partitions were rewritten.
    */
  final case class CompactStats(
      filesBefore: Int, filesAfter: Int, rewritten: Seq[Int])

  /** Bin-packing FILE COMPACTION — the OPTIMIZE / rewrite-data-files
    * table-maintenance op every incrementally-written table needs: a
    * long MERGE drain leaves each partition's directory holding one
    * small file per writer task per batch, and scan cost degrades with
    * file count (per-file open + footer read + scheduling), not bytes.
    *
    * For each live partition, the bin-packed target is
    * `ceil(bytes / targetBytes)` files; partitions already at or under
    * target are CARRIED FORWARD BY REFERENCE (a no-op costs metadata
    * only — an all-compact table commits nothing at all). Each
    * over-target partition is rewritten by an ordinary distributed
    * read→coalesce→write into a fresh attempt directory; partitions
    * rewrite independently, so at warehouse scale the rewrites run as
    * parallel jobs and total cost is O(bytes in over-target
    * partitions), never O(|table|). The commit is the same OCC
    * claim + publish protocol as the MERGE ([[commitOcc]]): readers
    * concurrent with compaction resolve the old or new version
    * atomically, content is IDENTICAL either way (only layout
    * changes), a crash before the claim leaves CURRENT untouched, a
    * RACING writer costs at most a recompaction against its committed
    * state, and superseded versions stay time-travel readable until
    * retention GC.
    */
  /** The parquet data files of one partition dir — shared by both
    * maintenance ops so a listing-filter change can't diverge.
    */
  private def dataFiles(root: String, dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(root, dir))
    try s.iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  /** Submit independent per-partition rewrite jobs CONCURRENTLY from a
    * bounded driver-side pool (`spark.graft.compact.maxConcurrentJobs`,
    * default 8) — Spark schedules jobs from multiple threads safely,
    * and partition rewrites share no state, so compaction wall-clock
    * tracks the LARGEST partition, not the partition count. Failure
    * semantics are unchanged: any rewrite error propagates after the
    * pool drains (no thread left writing), the manifest claim is never
    * reached, and the orphaned attempt dirs are inert
    * ([[sweepUncommitted]] reclaims them) — the same crash-window
    * story as a serial failure.
    */
  private def rewriteInParallel[A](
      spark: SparkSession, items: Seq[A])(job: A => Unit): Unit = {
    val n = math.min(items.size,
      spark.conf.getOption("spark.graft.compact.maxConcurrentJobs")
        .map(_.toInt).getOrElse(8))
    if (n <= 1) { items.foreach(job); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(items)(a => scala.concurrent.Future(job(a))),
      scala.concurrent.duration.Duration.Inf): Unit
    finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS): Unit
    }
  }

  def compact(
      spark: SparkSession, root: String,
      targetBytes: Long = 128L << 20): CompactStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    var out: CompactStats = null
    commitOcc(root) { att =>
      val man = att.base
      val plan = man.parts.toSeq.sortBy(_._1)
        .filter(_._2 != EmptyDir)
        .map { case (p, d) =>
          val fs = dataFiles(root, d)
          val bytes = fs.map(java.nio.file.Files.size(_)).sum
          val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
          (p, d, fs.size, target)
        }
      val before = plan.map(_._3).sum
      val candidates = plan.filter { case (_, _, n, t) => n > t }
      if (candidates.isEmpty) { out = CompactStats(before, before, Nil); None }
      else {
        rewriteInParallel(spark, candidates) { case (p, d, _, t) =>
          spark.read.parquet(s"$root/$d").coalesce(t)
            .write.parquet(s"${att.dataDir}/__part=$p")
        }
        val rewrittenAfter = candidates
          .map { case (p, _, _, _) => dataFiles(root, att.dirName(p)).size }.sum
        val carriedAfter = plan.collect {
          case (p, _, n, _) if !candidates.exists(_._1 == p) => n
        }.sum
        out = CompactStats(before, rewrittenAfter + carriedAfter,
          candidates.map(_._1))
        Some(CommitSpec(man.parts ++ att.writtenParts()))
      }
    }
    out
  }

  /** Z-ORDER CLUSTERING COMPACTION (OPTIMIZE ZORDER BY) — the layout
    * CHOICE, not just the small-file fix: every live partition is
    * rewritten with its rows range-partitioned and sorted by the Morton
    * interleave of (`xCol`, `yCol`) ([[graft.functions.ZOrder2]],
    * codegen'd), so each data file covers a TIGHT rectangle of the
    * 2-D key space and file-level min/max stats prune boxes on either
    * or both columns (the [[graft.rel.ZOrder]] read path, now under the
    * transactional commit). Unlike [[compact]], clustering rewrites
    * EVERY non-empty partition — it is changing the order, not only the
    * file count — but under the SAME OCC claim + publish protocol:
    * content identical, readers atomic, crash-before-claim invisible,
    * superseded versions time-travel readable. Cost is one
    * range-shuffle per partition, partitions independent/parallel.
    */
  def compactClustered(
      spark: SparkSession, root: String, xCol: String, yCol: String,
      targetBytes: Long = 128L << 20): CompactStats =
    clusteredRewrite(spark, root, targetBytes) { df =>
      graft.functions.GraftFunctions.zorder2(
        org.apache.spark.sql.functions.col(xCol).cast("long"),
        org.apache.spark.sql.functions.col(yCol).cast("long"))
    }

  /** [[compactClustered]] at real OPTIMIZE ZORDER BY arity: N clustering
    * columns via the N-way interleave ([[graft.functions.ZOrderN]]),
    * each quantized onto the ⌊63/N⌋-bit grid from ITS PARTITION's
    * min/max ([[graft.rel.ZOrder.quantize]] — one scalar agg per
    * partition, exact integer step math). Per-partition grids are
    * correct because clustering only ever orders rows WITHIN a
    * partition's rewrite; cross-partition placement is the hash
    * partitioning's job.
    */
  def compactClusteredN(
      spark: SparkSession, root: String, cols: Seq[String],
      targetBytes: Long = 128L << 20): CompactStats = {
    require(cols.size >= 2, s"compactClusteredN needs >= 2 columns, got $cols")
    val bits = 63 / cols.size
    clusteredRewrite(spark, root, targetBytes) { df =>
      import org.apache.spark.sql.functions.{col, floor, lit, max, min}
      // floor-then-cast, matching [[graft.rel.ZOrder.quantize]]'s grid
      val mmAggs = cols.flatMap(c =>
        Seq(floor(min(col(c))).cast("long"), floor(max(col(c))).cast("long")))
      val mm = df.agg(mmAggs.head, mmAggs.tail: _*).head()
      // a zero-row partition (or an all-NULL clustering column) has no
      // grid — there is nothing to order, so a constant z is correct
      // (compact/compactClustered never aggregate and tolerate the same
      // partitions implicitly)
      if ((0 until 2 * cols.size).exists(mm.isNullAt)) lit(0L)
      else graft.functions.GraftFunctions.zorderN(
        cols.zipWithIndex.map { case (c, i) =>
          graft.rel.ZOrder.quantize(col(c), mm.getLong(2 * i),
            mm.getLong(2 * i + 1), bits)
        }: _*)
    }
  }

  /** The ONE clustered-rewrite kernel both arities share: every live
    * partition rewritten range-partitioned + sorted by the z-value
    * `zOf` derives from the partition's frame, under the same OCC
    * claim + publish protocol.
    */
  private def clusteredRewrite(
      spark: SparkSession, root: String, targetBytes: Long)(
      zOf: DataFrame => org.apache.spark.sql.Column): CompactStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    graft.functions.GraftFunctions.register(spark)
    var out: CompactStats = null
    commitOcc(root) { att =>
      val man = att.base
      // on an evolved table each partition is conformed to the SERVING
      // schema before clustering: the caller's clustering columns resolve
      // on every era's files (a renamed table would otherwise have no
      // name valid across eras), and the rewrite modernizes the physical
      // schema as a side effect — the table-format OPTIMIZE discipline
      val schema = servingSchema(root, man.version)
      val live = man.parts.toSeq.sortBy(_._1).filter(_._2 != EmptyDir)
        .map { case (p, d) => (p, d, dataFiles(root, d)) } // one listing per partition
      if (live.isEmpty) { out = CompactStats(0, 0, Nil); None }
      else {
        val before = live.map(_._3.size).sum
        rewriteInParallel(spark, live) { case (p, d, fs) =>
          val bytes = fs.map(java.nio.file.Files.size(_)).sum
          val t = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
          import org.apache.spark.sql.functions.col
          val df = schema match {
            case Some(s) => conformedRead(spark, Seq(s"$root/$d"), s)
            case None => spark.read.parquet(s"$root/$d")
          }
          df.withColumn("__z", zOf(df))
            .repartitionByRange(t, col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.parquet(s"${att.dataDir}/__part=$p")
        }
        val after = live.map { case (p, _, _) =>
          dataFiles(root, att.dirName(p)).size
        }.sum
        out = CompactStats(before, after, live.map(_._1))
        Some(CommitSpec(man.parts ++ att.writtenParts()))
      }
    }
    out
  }

  /** Initialize version 0 from a frame already carrying the partition
    * column: one distributed write + manifest + pointer.
    */
  def init(root: String, df: DataFrame, partCol: String = "__part"): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    df.write.partitionBy(partCol).parquet(s"$root/v0")
    writeManifest(root, Manifest(0, listPartDirs(root, 0)))
    swapCurrent(root, 0)
  }

  /** The partition directories a written version actually produced
    * (`v{N}/__part={p}`), from a filesystem listing — used instead of a
    * second pass over the frame.
    */
  def listPartDirs(root: String, version: Int): Map[Int, String] = {
    import scala.jdk.CollectionConverters._
    val vDir = java.nio.file.Paths.get(root, s"v$version")
    val stream = java.nio.file.Files.list(vDir)
    try {
      stream.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("__part="))
        .map { p =>
          val v = p.getFileName.toString.stripPrefix("__part=").toInt
          v -> s"v$version/__part=$v"
        }.toMap
    } finally stream.close()
  }

  /** Read a committed snapshot version (default: CURRENT). The data
    * directories are leaf dirs, so no partition column is inferred —
    * rows carry the data schema only.
    */
  def read(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(root))
    val schema = servingSchema(root, v)
    val dirs = readManifest(root, v).parts.toSeq.sortBy(_._1)
      .collect { case (_, d) if d != EmptyDir => s"$root/$d" }
    if (dirs.nonEmpty) schema match {
      // evolved table: dirs from before the boundary physically lack
      // added columns, hold renamed ones under prior names, or carry
      // narrower pre-widening types — the explicit-schema scan
      // ([[conformedRead]]) serves NULLs / prior names / up-casts with
      // no footer-merge job. Never-evolved tables take the plain read.
      case Some(s) => conformedRead(spark, dirs, s)
      case None => spark.read.parquet(dirs: _*)
    }
    else {
      // a fully-deleted table is a LEGAL committed state: serve an empty
      // frame in the table's schema, recovered from the newest still-on-
      // disk data directory of any earlier version (init always wrote one)
      val fromManifests = ((v - 1) to 0 by -1).iterator
        .filter(pv => java.nio.file.Files.exists(manifestPath(root, pv)))
        .flatMap(pv => readManifest(root, pv).parts.values
          .find(_ != EmptyDir).map(d => s"$root/$d"))
        .nextOption()
      // after retention GC the older manifests are gone but gc retains
      // a data dir as schema donor — find it on disk. Version dirs at
      // or below the travel target are preferred (an in-flight attempt
      // dir may be half-written, and a newer dir could carry an evolved
      // physical schema); attempt-named dirs are the fallback.
      def fromDisk: Option[String] = {
        import scala.jdk.CollectionConverters._
        def partDirsOf(d: java.nio.file.Path): Seq[String] = {
          val ps = java.nio.file.Files.list(d)
          try ps.iterator().asScala.toSeq
            .filter(_.getFileName.toString.startsWith("__part="))
            .sortBy(_.getFileName.toString)
            .map(pd => s"$root/${d.getFileName}/${pd.getFileName}")
          finally ps.close()
        }
        val vs = java.nio.file.Files.list(java.nio.file.Paths.get(root))
        try {
          val all = vs.iterator().asScala.toSeq
            .filter(java.nio.file.Files.isDirectory(_))
          val vDirs = all
            .filter(p => p.getFileName.toString.matches("v\\d+") &&
              p.getFileName.toString.drop(1).toInt <= v)
            .sortBy(-_.getFileName.toString.drop(1).toInt)
          val aDirs = all
            .filter(_.getFileName.toString.startsWith("a-"))
            .sortBy(_.getFileName.toString).reverse
          (vDirs ++ aDirs).iterator.flatMap(partDirsOf).nextOption()
        } finally vs.close()
      }
      val donor = fromManifests.orElse(fromDisk)
      require(donor.nonEmpty, s"snapshot $root never held data: no schema to serve")
      val empty = spark.read.parquet(donor.get)
        .filter(org.apache.spark.sql.functions.lit(false))
      schema.map(conform(empty, _)).getOrElse(empty)
    }
  }

  /** TIMESTAMP AS OF: the newest version committed at or before
    * `millis` (claims stamp commit time, and claims are serialized by
    * version number, so the stamp axis is monotone with versions).
    * Walks DOWN from CURRENT — O(lag), not O(history) — and only over
    * manifests retention has kept, like every time travel.
    */
  def versionAsOf(root: String, millis: Long): Int = {
    val cur = currentVersion(root)
    val hit = (cur to 0 by -1).iterator
      .filter(v => java.nio.file.Files.exists(manifestPath(root, v)))
      .find(v => readManifest(root, v).committedAtMillis.forall(_ <= millis))
    require(hit.nonEmpty,
      s"no retained version of $root was committed at or before $millis")
    hit.get
  }

  /** [[read]] at the newest version committed at or before `millis`. */
  def readAsOf(spark: SparkSession, root: String, millis: Long): DataFrame =
    read(spark, root, Some(versionAsOf(root, millis)))

  /** Read ONLY the named partitions of a version — the touched-set read
    * the MERGE issues: cost is O(|touched|) directories by construction
    * (the untouched dirs never even reach the scan's file listing).
    */
  def readParts(spark: SparkSession, root: String, version: Int, ps: Seq[Int]): Option[DataFrame] = {
    val man = readManifest(root, version)
    val dirs = ps.flatMap(p => man.parts.get(p))
      .filter(_ != EmptyDir).map(d => s"$root/$d")
    if (dirs.isEmpty) None
    else Some(servingSchema(root, version) match {
      case Some(s) => conformedRead(spark, dirs, s)
      case None => spark.read.parquet(dirs: _*)
    })
  }
}

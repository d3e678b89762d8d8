package graft.tables

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

import org.apache.spark.sql.types.StructType

/** Actions recorded in the deltalike transaction log.
  *
  * The log models the versioned-table semantics the reference relies on
  * (`/root/reference/sparkcode/titanic_example_delta.py:25,43-51,64-70`:
  * overwrite → v0, merge → v1, `versionAsOf` reads) as a directory of
  * immutable parquet data files plus a JSON action log: one
  * `_graft_log/%08d.json` per version, newline-delimited actions. Readers
  * resolve a version to a file list from the log alone — they never list
  * the data directory, so concurrent writers/readers see only committed
  * state and cloud object-store listing inconsistency can't corrupt reads.
  */
sealed trait Action

/** Table-level metadata; written at version 0, on overwrite, and on
  * schema change. `bloomFilterColumns` and `constraints` (CHECK
  * constraints, name → boolean SQL expression) are sticky table
  * properties: declared once, inherited by every later commit (absent
  * in logs written before the fields existed — json4s fills the
  * defaults).
  */
final case class MetaData(
    schemaDdl: String,
    partitionColumns: Seq[String],
    bloomFilterColumns: Seq[String] = Seq.empty,
    constraints: Map[String, String] = Map.empty,
    deletionVectors: Boolean = false,
    columnMapping: Map[String, String] = Map.empty,
    generatedColumns: Map[String, String] = Map.empty,
    identityColumns: Map[String, String] = Map.empty,
    clusterBy: Seq[String] = Seq.empty)
    extends Action

/** A data file added to the table at this version. `path` is relative to
  * the table root. `minValues`/`maxValues`/`nullCounts` are per-column
  * stats (JSON-encoded literals) used for data skipping at scan time —
  * the same trick Delta/Iceberg use so selective queries touch a subset
  * of a 100 TB table's files.
  *
  * `deletedRows` is the file's inline deletion vector: physical row
  * indexes (parquet `_metadata.row_index`) soft-deleted from this file
  * — readers exclude them; the bytes on disk are untouched (Delta's DV
  * concept, inline-only). For a DV'd file `numRecords` counts LIVE
  * rows, and nullCounts are dropped (a subset's null count is unknown;
  * min/max stay valid as outer bounds).
  */
final case class AddFile(
    path: String,
    sizeBytes: Long,
    numRecords: Long,
    minValues: Map[String, String] = Map.empty,
    maxValues: Map[String, String] = Map.empty,
    nullCounts: Map[String, Long] = Map.empty,
    deletedRows: Seq[Long] = Seq.empty)
    extends Action

/** A data file logically deleted at this version (still on disk so older
  * versions remain readable — time travel).
  */
final case class RemoveFile(path: String) extends Action

/** Operation provenance for `history()`. */
final case class CommitInfo(operation: String, timestampMs: Long)
    extends Action

object CommitInfo {
  /** A commit whose operation starts with "OPTIMIZE" (compaction, ZORDER,
    * auto-compaction) moves rows between files without changing any: the
    * change feed, the incremental reader and the streaming source read
    * it as carrying no row-level change.
    */
  def isDataNeutral(operation: String): Boolean = operation.startsWith("OPTIMIZE")
}

/** Idempotent-writer marker (Delta's SetTransaction): records that
  * application `appId` has committed through its own version counter
  * `txnVersion`. The snapshot keeps the max per appId, so an
  * exactly-once writer (e.g. the streaming sink's (queryId, batchId))
  * checks one map lookup instead of scanning commit history.
  */
final case class Txn(appId: String, txnVersion: Long) extends Action

/** A resolved view of the table at one version: schema + active files
  * + idempotent-writer watermarks.
  */
final case class Snapshot(
    version: Long,
    schema: StructType,
    files: Seq[AddFile],
    tableRoot: String,
    partitionColumns: Seq[String] = Seq.empty,
    txns: Map[String, Long] = Map.empty,
    bloomFilterColumns: Seq[String] = Seq.empty,
    constraints: Map[String, String] = Map.empty,
    deletionVectors: Boolean = false,
    columnMapping: Map[String, String] = Map.empty,
    generatedColumns: Map[String, String] = Map.empty,
    identityColumns: Map[String, String] = Map.empty,
    clusterBy: Seq[String] = Seq.empty) {
  def filePaths: Seq[String] =
    files.map(f => DeltaLog.resolvePath(tableRoot, f.path))

  /** Name a data file stores for logical column `c`. Identity until a
    * rename/drop materializes the mapping (Delta's column-mapping idea,
    * name-based): renames are then metadata-only — files keep their
    * original column names forever.
    */
  def physicalName(c: String): String = columnMapping.getOrElse(c, c)

  /** The schema as stored in data files: logical types under physical
    * names.
    */
  def physicalSchema: StructType =
    StructType(schema.fields.map(f => f.copy(name = physicalName(f.name))))

  /** This snapshot's metadata action, for commits that carry the sticky
    * table properties forward. Callers override what they change —
    * going through here means a new sticky field can never be silently
    * dropped by an unrelated commit path.
    */
  def toMetaData(
      schemaDdl: String = schema.toDDL,
      partitionColumns: Seq[String] = partitionColumns,
      bloomFilterColumns: Seq[String] = bloomFilterColumns,
      constraints: Map[String, String] = constraints,
      deletionVectors: Boolean = deletionVectors,
      columnMapping: Map[String, String] = columnMapping,
      generatedColumns: Map[String, String] = generatedColumns,
      identityColumns: Map[String, String] = identityColumns,
      clusterBy: Seq[String] = clusterBy): MetaData =
    MetaData(schemaDdl, partitionColumns, bloomFilterColumns, constraints,
      deletionVectors, columnMapping, generatedColumns, identityColumns,
      clusterBy)
}

/** Reader/writer for the JSON transaction log of one table.
  *
  * Commit protocol (single log directory, optimistic concurrency): the
  * actions are first written to a temp file, then published under the
  * version's final name atomically — a hard link on local disk,
  * rename-without-overwrite through Hadoop [[TableIO]] elsewhere. Either
  * way publishing fails if the target exists, so two concurrent
  * committers of the same version cannot both win and readers never
  * observe a partially written log file.
  */
final class DeltaLog(val tableRoot: String) {
  import DeltaLog._

  private[tables] val io: TableIO = TableIO.forPath(tableRoot)
  private val logDir: String = s"$tableRoot/$LogDirName"

  def exists: Boolean =
    io.isDir(logDir) && latestVersion >= 0

  /** Highest committed version, or -1 for a nonexistent table. */
  def latestVersion: Long =
    io.listNames(logDir)
      .collect { case VersionFile(v) => v.toLong }
      .foldLeft(-1L)(math.max)

  /** Lowest version whose log entry is still present (older entries may
    * have been removed by [[cleanupLogs]]); Long.MaxValue when empty.
    */
  def minVersion: Long =
    io.listNames(logDir)
      .collect { case VersionFile(v) => v.toLong }
      .foldLeft(Long.MaxValue)(math.min)

  def actions(version: Long): Seq[Action] =
    io.readLines(s"$logDir/${f"$version%08d.json"}")
      .filter(_.nonEmpty).map(parseAction)

  /** Replay the log up to `version` (latest if negative), starting from
    * the newest checkpoint at or below it: resolution cost is
    * O(checkpoint + tail), not O(versions since table creation) — the
    * property that keeps a years-old table with tens of thousands of
    * commits readable in constant-ish time (Delta's `_checkpoint`
    * files, same trick).
    */
  def snapshot(version: Long = -1L): Snapshot = {
    val latest = latestVersion
    require(latest >= 0, s"not a deltalike table (no log): $tableRoot")
    val v = if (version < 0) latest else version
    require(v <= latest, s"version $v does not exist (latest: $latest)")
    var schemaDdl: String = null
    var partCols: Seq[String] = Seq.empty
    var bloomCols: Seq[String] = Seq.empty
    var constraints: Map[String, String] = Map.empty
    var dvEnabled = false
    var colMapping: Map[String, String] = Map.empty
    var genCols: Map[String, String] = Map.empty
    var idCols: Map[String, String] = Map.empty
    var clusterCols: Seq[String] = Seq.empty
    val active = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    val txns = scala.collection.mutable.Map.empty[String, Long]
    def apply(a: Action): Unit = a match {
      case m: MetaData =>
        schemaDdl = m.schemaDdl; partCols = m.partitionColumns
        bloomCols = m.bloomFilterColumns; constraints = m.constraints
        dvEnabled = m.deletionVectors; colMapping = m.columnMapping
        genCols = m.generatedColumns; idCols = m.identityColumns
        clusterCols = m.clusterBy
      case a: AddFile    => active(a.path) = a
      case r: RemoveFile => active.remove(r.path): Unit
      case t: Txn        => txns(t.appId) = math.max(t.txnVersion, txns.getOrElse(t.appId, Long.MinValue))
      case _: CommitInfo => ()
    }
    val start = latestCheckpoint(v) match {
      case Some(cp) =>
        io.readLines(checkpointPath(cp)).filter(_.nonEmpty).map(parseAction).foreach(apply)
        cp + 1
      case None => 0L
    }
    require(start >= minVersion || start > v,
      s"version $v predates the retained log of $tableRoot " +
        s"(oldest entry: $minVersion; log was cleaned up)")
    (start to v).foreach(i => actions(i).foreach(apply))
    require(schemaDdl != null, s"log for $tableRoot has no metadata action")
    Snapshot(v, StructType.fromDDL(schemaDdl), active.values.toSeq, tableRoot,
      partCols, txns.toMap, bloomCols, constraints, dvEnabled, colMapping,
      genCols, idCols, clusterCols)
  }

  /** The one optimistic transaction every table operation commits
    * through (Delta's OptimisticTransaction): `acts` plus one
    * [[CommitInfo]] for `operation`, built on `base`, the snapshot the
    * caller validated against (None: the table does not exist yet).
    * `read` holds the log paths of the files the operation read (None:
    * the whole table); `staged` the data files it wrote, deleted if the
    * commit does not happen — they were never logged, so no vacuum
    * would reclaim them. Version base + 1 is attempted first; on a
    * collision the commits since are read and:
    *
    *   - a `Txn` at or past one this transaction carries (or one already
    *     in `base`) abandons it: an exactly-once writer (the streaming
    *     sink's (queryId, batchId)) commits each of its versions once;
    *   - a transaction carrying `MetaData`, or reading the whole table
    *     (overwrite, RESTORE), never rebases: the collision is rethrown;
    *   - a concurrent `MetaData` (schema, partitioning, constraint,
    *     identity watermark), or a concurrent `RemoveFile` of a file in
    *     `read`, throws [[java.util.ConcurrentModificationException]];
    *   - otherwise it rebases onto the new head and retries, up to
    *     [[MaxCommitAttempts]] attempts.
    *
    * Concurrent `AddFile`s never intersect `read` (they are fresh names),
    * so an append, or a rewrite of other files, rebases cleanly and the
    * result equals some serial order (Delta's WriteSerializable: a
    * concurrent append whose rows would have matched a rewrite's
    * predicate is not a conflict). Returns false when abandoned.
    */
  private[tables] def transact(
      base: Option[Snapshot],
      operation: String,
      acts: Seq[Action],
      read: Option[Set[String]] = None,
      staged: Seq[AddFile] = Seq.empty): Boolean = {
    val baseVersion = base.fold(-1L)(_.version)
    val own = acts.collect { case Txn(app, v) => app -> v }.toMap
    def supersedes(held: Iterable[(String, Long)]): Boolean =
      held.exists { case (app, v) => own.get(app).exists(_ <= v) }
    val rebaseable = read.isDefined && !acts.exists(_.isInstanceOf[MetaData])
    @annotation.tailrec
    def attempt(version: Long, n: Int): Boolean = {
      val collision =
        try { commit(version, acts :+ CommitInfo(operation, System.currentTimeMillis())); None }
        catch { case e: java.nio.file.FileAlreadyExistsException => Some(e) }
      if (collision.isEmpty) return true
      val head = latestVersion
      val concurrent = (version to head).flatMap(actions)
      if (supersedes(concurrent.collect { case Txn(app, v) => app -> v })) return false
      if (!rebaseable) throw collision.get
      val conflict = concurrent.collectFirst {
        case _: MetaData => "a metadata change"
        case RemoveFile(p) if read.exists(_.contains(p)) => s"removal of read file $p"
      }.orElse(Option.when(n >= MaxCommitAttempts)(s"$n attempts lost the race"))
      conflict.foreach { why =>
        throw new java.util.ConcurrentModificationException(
          s"$operation built at version $baseVersion cannot rebase over " +
            s"concurrent commit(s) $version..$head: $why")
      }
      attempt(head + 1, n + 1)
    }
    val committed =
      try {
        val hook = preCommitHook
        preCommitHook = () => ()
        hook()
        !base.exists(b => supersedes(b.txns)) && attempt(baseVersion + 1, 1)
      } catch { case e: Throwable => discard(staged); throw e }
    if (!committed) discard(staged)
    committed
  }

  /** Delete data files staged for a commit that will never happen. Never
    * throws — the original failure (if any) is the interesting one.
    */
  private def discard(staged: Seq[AddFile]): Unit =
    staged.foreach { a =>
      try io.delete(s"$tableRoot/${a.path}")
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Atomically publish `version`; throws if it was already committed.
    * Every `CheckpointInterval`-th version also writes a checkpoint
    * (best-effort: a concurrent writer's identical checkpoint wins
    * harmlessly; failures never fail the commit). Table operations
    * commit through [[transact]]; this is its create-exclusive primitive.
    */
  def commit(version: Long, acts: Seq[Action]): Unit = {
    io.mkdirs(logDir)
    val body = acts.map(renderAction).mkString("", "\n", "\n")
    io.writeExclusive(s"$logDir/${f"$version%08d.json"}", body)
    if (version > 0 && version % CheckpointInterval == 0)
      try checkpoint(version)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Write the checkpoint for `version`: the resolved state rendered as
    * ordinary NDJSON actions (metadata, txns, active files).
    */
  def checkpoint(version: Long): Unit = {
    val snap = snapshot(version)
    val acts: Seq[Action] =
      snap.toMetaData() +:
        (snap.txns.toSeq.sortBy(_._1).map { case (a, tv) => Txn(a, tv) } ++
          snap.files)
    try io.writeExclusive(checkpointPath(version),
      acts.map(renderAction).mkString("", "\n", "\n"))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  private def checkpointPath(v: Long): String =
    s"$logDir/${f"$v%08d"}.checkpoint.json"

  /** Newest checkpoint version ≤ `upTo`, if any. */
  private[tables] def latestCheckpoint(upTo: Long): Option[Long] =
    io.listNames(logDir)
      .collect { case CheckpointFile(v) => v.toLong }
      .filter(_ <= upTo)
      .maxOption

  def history(): Seq[(Long, Option[CommitInfo])] =
    (math.max(0L, minVersion) to latestVersion).map { v =>
      v -> actions(v).collectFirst { case c: CommitInfo => c }
    }

  /** Newest version committed at or before `tsMillis` — the resolution
    * rule behind `timestampAsOf` reads (Delta's contract: a timestamp
    * pins the table state a reader at that wall-clock instant saw).
    * Driver-side metadata only: one pass over the retained log's
    * CommitInfo lines.
    */
  def versionAtTimestamp(tsMillis: Long): Long = {
    val eligible = history().collect {
      case (v, Some(ci)) if ci.timestampMs <= tsMillis => v
    }
    require(eligible.nonEmpty,
      s"no version of $tableRoot committed at or before timestamp $tsMillis " +
        s"(earliest retained commit: ${history().headOption.flatMap(_._2).map(_.timestampMs)})")
    eligible.max
  }

  /** Delete log segments no retained read needs: entries (and older
    * checkpoints) strictly below the newest checkpoint that still
    * covers the oldest retained version. Time travel below that
    * checkpoint stops working — the same contract VACUUM applies to
    * data files; run [[DeltaLikeTable.vacuum]] FIRST, while the old
    * entries still enumerate their files. Returns deleted names.
    */
  def cleanupLogs(retainVersions: Int = DeltaLog.CheckpointInterval.toInt): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val latest = latestVersion
    val oldestRetained = math.max(0L, latest - (retainVersions - 1))
    latestCheckpoint(oldestRetained) match {
      case None => Seq.empty // no checkpoint old enough: nothing removable
      case Some(cp) =>
        val names = io.listNames(logDir)
        val doomedVersions = names.collect {
          case n @ VersionFile(v) if v.toLong < cp => n
        }
        val doomedCheckpoints = names.collect {
          case n @ CheckpointFile(v) if v.toLong < cp => n
        }
        val doomed = doomedVersions ++ doomedCheckpoints
        doomed.foreach(n => io.delete(s"$logDir/$n"))
        doomed
    }
  }
}

object DeltaLog {
  val LogDirName = "_graft_log"
  /** Checkpoint cadence in versions. */
  val CheckpointInterval = 10L

  /** Commit attempts a rebasing [[DeltaLog.transact]] makes before it
    * gives up with a ConcurrentModificationException.
    */
  private[tables] val MaxCommitAttempts = 20

  /** One-shot test seam: invoked (and cleared) immediately before a
    * transaction's first commit attempt, so specs can land a concurrent
    * commit deterministically — the only way to pin the interleaving
    * without a racy multi-threaded test.
    */
  @volatile private[graft] var preCommitHook: () => Unit = () => ()

  /** An AddFile path is normally relative to the table root; a SHALLOW
    * CLONE records absolute paths into the source table instead (Delta's
    * convention). Absolute = rooted ("/...") or scheme-qualified
    * ("s3a://...").
    */
  def isAbsolute(p: String): Boolean =
    p.startsWith("/") || p.contains("://")

  def resolvePath(root: String, p: String): String =
    if (isAbsolute(p)) p else s"$root/$p"

  /** `p` as an absolute path: a scheme-qualified path as given, a local
    * one resolved against the working directory.
    */
  def absolutePath(p: String): String =
    if (new org.apache.hadoop.fs.Path(p).toUri.getScheme == null)
      java.nio.file.Paths.get(p).toAbsolutePath.toString
    else p
  private val VersionFile = "([0-9]{8})\\.json".r
  private val CheckpointFile = "([0-9]{8})\\.checkpoint\\.json".r

  private implicit val formats: Formats = DefaultFormats

  def forPath(tableRoot: String): DeltaLog = new DeltaLog(tableRoot)

  private[tables] def renderAction(a: Action): String = a match {
    case m: MetaData   => Serialization.write(Map("metaData" -> Extraction.decompose(m)))
    case f: AddFile    => Serialization.write(Map("add" -> Extraction.decompose(f)))
    case r: RemoveFile => Serialization.write(Map("remove" -> Extraction.decompose(r)))
    case c: CommitInfo => Serialization.write(Map("commitInfo" -> Extraction.decompose(c)))
    case t: Txn        => Serialization.write(Map("txn" -> Extraction.decompose(t)))
  }

  private[tables] def parseAction(line: String): Action = {
    val j = JsonMethods.parse(line)
    (j \ "metaData", j \ "add", j \ "remove", j \ "commitInfo", j \ "txn") match {
      case (m, _, _, _, _) if m != JNothing => m.extract[MetaData]
      case (_, a, _, _, _) if a != JNothing => a.extract[AddFile]
      case (_, _, r, _, _) if r != JNothing => r.extract[RemoveFile]
      case (_, _, _, c, _) if c != JNothing => c.extract[CommitInfo]
      case (_, _, _, _, t) if t != JNothing => t.extract[Txn]
      case _ => throw new IllegalArgumentException(s"unknown action: $line")
    }
  }
}

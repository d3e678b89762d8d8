package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental consumption of a deltalike table — the batch building
  * block of change-data-capture and of a streaming source (a driver loop
  * that tracks its last-seen version and calls [[changesSince]] /
  * [[changeFeed]] per trigger consumes the table incrementally with no
  * reprocessing).
  *
  * Two read levels:
  *   - [[changesSince]]: rows ADDED, append-only history (cheapest —
  *     reads exactly the committed files, no diff work).
  *   - [[changeFeed]]: row-level changes across ANY commit, including
  *     rewriting ones (MERGE/DELETE/UPDATE/overwrite) — Delta CDF
  *     semantics derived at READ time by diffing each rewriting
  *     version's removed files against its added files. An update
  *     surfaces as delete(pre-image) + insert(post-image); rows the
  *     rewrite merely copied cancel out. Cost per version is bounded by
  *     that commit's rewrite footprint (only touched files are read and
  *     diffed, via one `exceptAll` each way), never by table size —
  *     at 100 TB a MERGE that rewrote 10 files costs a 10-file diff.
  */
object ChangeReader {

  /** Change-feed metadata columns, appended after the table schema. */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** The single definition of a change-feed row's shape: table schema +
    * the metadata columns — used by the batch API, the streaming
    * source's declared schema, and its batches, so they cannot drift.
    */
  def withChangeSchema(base: StructType): StructType =
    StructType(base.fields.toSeq ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, LongType, nullable = false)))

  /** Rows added in versions (`sinceVersion`, latest]; append-only
    * semantics. Versions whose commit also REMOVED files are not
    * representable as pure row-adds: by default OPTIMIZE versions are
    * skipped (logical no-ops — their adds are rewrites of
    * already-delivered rows, so skipping preserves exactly-once
    * delivery) and any other rewriting version fails the read — use
    * [[changeFeed]] for those.
    */
  def changesSince(
      spark: SparkSession,
      path: String,
      sinceVersion: Long,
      skipRewrites: Boolean = true): DataFrame = {
    val log = DeltaLog.forPath(path)
    val latest = log.latestVersion
    require(latest >= 0, s"not a deltalike table: $path")
    require(sinceVersion <= latest,
      s"sinceVersion $sinceVersion is beyond latest $latest")
    val snap = log.snapshot() // schema + partition columns of the head
    val addedFiles = ((sinceVersion + 1) to latest).flatMap { v =>
      val acts = log.actions(v)
      val removes = acts.collect { case r: RemoveFile => r }
      val adds = acts.collect { case a: AddFile => a }
      val op = acts.collectFirst { case c: CommitInfo => c.operation }.getOrElse("")
      if (removes.isEmpty) adds
      else if (CommitInfo.isDataNeutral(op) && skipRewrites) Seq.empty
      else throw new UnsupportedOperationException(
        s"version $v of $path rewrites files (op=$op); " +
          "changesSince covers append-only history — use changeFeed for " +
          "row-level changes across rewriting commits")
    }
    DeltaLikeTable.readSnapshot(spark,
      snap.copy(files = addedFiles, version = latest))
  }

  /** Row-level changes in versions (`sinceVersion`, latest]: the table
    * schema (as of the head — older rows are read through it, missing
    * columns null-filled) plus `_change_type` ("insert" | "delete") and
    * `_commit_version`.
    *
    * Per version: an append delivers its added rows as inserts; an
    * OPTIMIZE delivers nothing (logical no-op); a rewriting commit
    * delivers the multiset difference added∖removed as inserts and
    * removed∖added as deletes — so a MERGE's updated row arrives exactly
    * once as a delete of the old row plus an insert of the new one, and
    * rows the rewrite copied verbatim arrive zero times.
    */
  def changeFeed(
      spark: SparkSession,
      path: String,
      sinceVersion: Long): DataFrame = {
    val log = DeltaLog.forPath(path)
    val latest = log.latestVersion
    require(latest >= 0, s"not a deltalike table: $path")
    require(sinceVersion <= latest,
      s"sinceVersion $sinceVersion is beyond latest $latest")
    changeFeedBetween(spark, log, sinceVersion, latest)
  }

  /** [[changeFeed]] bounded to versions (`sinceVersion`, `untilVersion`]
    * — the shared engine behind the batch API and the streaming source's
    * `readChangeFeed` mode (whose batches are version ranges).
    */
  private[tables] def changeFeedBetween(
      spark: SparkSession,
      log: DeltaLog,
      sinceVersion: Long,
      untilVersion: Long): DataFrame = {
    val head = log.snapshot(untilVersion)

    def readFiles(files: Seq[AddFile], v: Long): DataFrame =
      DeltaLikeTable.readSnapshot(spark, head.copy(files = files, version = v))

    def tag(df: DataFrame, change: String, v: Long): DataFrame =
      df.withColumn(ChangeTypeCol, lit(change))
        .withColumn(CommitVersionCol, lit(v))

    val perVersion: Seq[DataFrame] =
      ((sinceVersion + 1) to untilVersion).flatMap { v =>
        val acts = log.actions(v)
        val adds = acts.collect { case a: AddFile => a }
        val removedPaths = acts.collect { case r: RemoveFile => r.path }.toSet
        val op = acts.collectFirst { case c: CommitInfo => c.operation }.getOrElse("")
        if (removedPaths.isEmpty) {
          if (adds.isEmpty) None
          else Some(tag(readFiles(adds, v), "insert", v))
        } else if (CommitInfo.isDataNeutral(op)) None // logical no-op
        else {
          // pre-image rows live in the removed files; their AddFile
          // entries (stats, partition paths) come from the prior version
          val preFiles = log.snapshot(v - 1).files.filter(f => removedPaths(f.path))
          val pre = readFiles(preFiles, v - 1)
          val post = readFiles(adds, v)
          Some(
            tag(post.exceptAll(pre), "insert", v)
              .unionAll(tag(pre.exceptAll(post), "delete", v)))
        }
      }

    perVersion.reduceOption(_ unionAll _).getOrElse {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        withChangeSchema(head.schema))
    }
  }

  /** Current head version, for callers tracking their own offset. */
  def latestVersion(path: String): Long = DeltaLog.forPath(path).latestVersion

  /** Net per-key row-count delta over versions (`sinceVersion`, latest]
    * — the input an INCREMENTAL AGGREGATE maintainer merges into a
    * downstream table (insert = +1, delete = −1; an updated row whose
    * key did not change nets to 0 and drops out). Cost is bounded by
    * the change footprint, never the table — the whole point of
    * maintaining the aggregate incrementally.
    */
  def netChanges(
      spark: SparkSession,
      path: String,
      sinceVersion: Long,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    changeFeed(spark, path, sinceVersion)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(when(col(ChangeTypeCol) === "insert", 1L).otherwise(-1L)).as("net"))
      .where(col("net") =!= 0L)
  }
}

package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `spark.readStream.format("deltalike")` — the deltalike table as a
  * Structured Streaming SOURCE, mirroring Delta's `readStream` contract
  * (the reference's tables become live inputs, not just batch reads):
  *
  *   - **Offsets are log versions.** The committed offset is the last
  *     version whose rows were delivered; a restart resumes from the
  *     checkpointed version with no reprocessing — exactly-once row
  *     delivery rides on the log's atomic commits, the same property
  *     [[ChangeReader.changesSince]] gives batch consumers.
  *   - **First batch = the snapshot** at the stream-start version (the
  *     table's current contents), subsequent batches = rows appended by
  *     each committed version. Both resolve to explicit file lists from
  *     the log — never a directory listing, so object-store listing
  *     inconsistency can't duplicate or drop data.
  *   - **OPTIMIZE versions deliver nothing** (logical no-ops — their
  *     adds rewrite already-delivered rows). Genuinely rewriting
  *     versions (MERGE/DELETE/UPDATE/overwrite) fail the stream by
  *     default — their row-level effect is not representable as appends;
  *     `.option("skipChangeCommits", "true")` skips them (Delta's option
  *     of the same name), and [[ChangeReader.changeFeed]] is the batch
  *     API that delivers their delete+insert pairs.
  *
  * Scale shape: each micro-batch reads exactly the files its versions
  * added (vectorized parquet, no shuffle introduced by the source);
  * driver-side work per trigger is one log listing.
  *
  * `maxVersionsPerTrigger` caps how many log versions one micro-batch
  * may cover (Delta's `maxFilesPerTrigger` idea at version granularity):
  * a stream catching up on a long backlog delivers bounded batches
  * instead of one giant catch-up batch that overwhelms executor memory
  * and checkpoint latency. The first batch (initial snapshot) is always
  * a single batch — the cap applies to subsequent version consumption.
  */
private[tables] final class DeltaLikeStreamSource(
    spark: SparkSession,
    path: String,
    skipChangeCommits: Boolean,
    readChangeFeed: Boolean = false,
    maxVersionsPerTrigger: Option[Long] = None)
    extends Source {

  private val log = DeltaLog.forPath(path)
  require(log.exists, s"not a deltalike table: $path")

  /** End version of the newest batch handed to the engine — the rate
    * limit's anchor. Restart-safe without persistence: on recovery Spark
    * replays the checkpointed pending batch through [[getBatch]] (which
    * re-anchors this) before asking [[getOffset]] for new data.
    */
  @volatile private var lastBatchEnd: Option[Long] = None

  override val schema: StructType =
    if (readChangeFeed) ChangeReader.withChangeSchema(log.snapshot().schema)
    else log.snapshot().schema

  override def getOffset: Option[OffsetV1] = {
    val v = log.latestVersion
    if (v < 0) None
    else {
      val capped = (maxVersionsPerTrigger, lastBatchEnd) match {
        case (Some(n), Some(last)) => math.min(v, last + n)
        case _                     => v // first batch (snapshot) is uncapped
      }
      Some(LongOffset(capped))
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = versionOf(end)
    lastBatchEnd = Some(endV)
    val batch = (start.map(versionOf), readChangeFeed) match {
      case (None, false) =>
        // stream start: the full snapshot at the batch's end version
        DeltaLikeTable.readSnapshot(spark, log.snapshot(endV))
      case (None, true) =>
        // CDF stream start: the snapshot AS inserts at the start version
        // (Delta CDF's initial-snapshot behavior), so downstream state
        // bootstraps from the same schema it will keep consuming
        import org.apache.spark.sql.functions.lit
        DeltaLikeTable.readSnapshot(spark, log.snapshot(endV))
          .withColumn(ChangeReader.ChangeTypeCol, lit("insert"))
          .withColumn(ChangeReader.CommitVersionCol, lit(endV))
      case (Some(startV), true) =>
        // row-level changes, rewriting commits included — the batch
        // changeFeed machinery bounded to (startV, endV]
        ChangeReader.changeFeedBetween(spark, log, startV, endV)
      case (Some(startV), false) =>
        val head = log.snapshot(endV) // schema + partition layout
        val added = ((startV + 1) to endV).flatMap { v =>
          val acts = log.actions(v)
          val adds = acts.collect { case a: AddFile => a }
          val removes = acts.collect { case r: RemoveFile => r }
          val op = acts.collectFirst { case c: CommitInfo => c.operation }.getOrElse("")
          if (removes.isEmpty) adds
          else if (CommitInfo.isDataNeutral(op) || skipChangeCommits) Seq.empty
          else throw new UnsupportedOperationException(
            s"version $v of $path rewrites files (op=$op); a streaming read " +
              "delivers appends only — set option skipChangeCommits=true to " +
              "skip rewriting versions, or option readChangeFeed=true for " +
              "their row-level changes")
        }
        DeltaLikeTable.readSnapshot(spark, head.copy(files = added, version = endV))
    }
    GraftSqlBridge.asStreamingBatch(spark, batch)
  }

  /** LongOffset live, SerializedOffset after a checkpoint restart. */
  private def versionOf(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }

  override def stop(): Unit = ()

  override def toString: String = s"DeltaLikeStreamSource[$path]"
}

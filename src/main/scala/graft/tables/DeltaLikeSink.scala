package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

/** Structured-Streaming sink into a deltalike table via `foreachBatch`,
  * with exactly-once appends: each micro-batch commit records its
  * (queryId, batchId) as a [[Txn]] action, and a restarted query that
  * replays an already-committed batch is skipped — the same
  * transactional-idempotence contract Delta's streaming sink keeps via
  * `txn` actions. A commit that fails or is abandoned deletes its staged
  * files; a crash between data-file staging and log commit leaves only
  * unreferenced files (reclaimed by VACUUM's untracked sweep), never a
  * torn table.
  */
object DeltaLikeSink {

  private val OpPrefix = "STREAM"

  /** Operation tag (history/provenance only — idempotence rides on the
    * [[Txn]] action, not on parsing this string).
    */
  private def op(queryId: String, batchId: Long): String =
    s"$OpPrefix:$queryId:$batchId"

  /** Highest batchId already committed by `queryId` to `path`, or -1 —
    * one map lookup on the snapshot's [[Txn]] watermarks
    * (checkpoint-bounded), not a scan of commit history. Composed sinks
    * (e.g. [[graft.streaming.IngestDedup]]) decide replay-skip with it
    * BEFORE doing per-batch work.
    */
  def lastCommittedBatchIn(path: String, queryId: String): Long = {
    val log = DeltaLog.forPath(path)
    if (!log.exists) -1L
    else log.snapshot().txns.getOrElse(queryId, -1L)
  }

  /** The foreachBatch function: append `batch` to `path` unless this
    * (query, batch) was already committed.
    *
    * The idempotence key is validated *inside* the commit transaction
    * ([[DeltaLog.transact]]), not just before the write: two concurrent
    * instances of the same query can both pass the up-front check, but
    * the loser of the version race reads the winner's commit and finds
    * its [[Txn]] — so the batch commits exactly once and the loser's
    * staged files are deleted.
    */
  def appendBatch(path: String, queryId: String)(batch: DataFrame, batchId: Long): Unit =
    if (batchId > lastCommittedBatchIn(path, queryId))
      DeltaLikeTable.write(batch, path, "append", operation = op(queryId, batchId),
        extraActions = Seq(Txn(queryId, batchId)))

  /** Wire a streaming writer to a deltalike table:
    * {{{
    * DeltaLikeSink.writeStream(df.writeStream, "/table/path", "my-query")
    *   .option("checkpointLocation", ...)
    *   .start()
    * }}}
    */
  def writeStream[T](
      writer: DataStreamWriter[T],
      path: String,
      queryId: String): DataStreamWriter[T] =
    writer.foreachBatch { (batch: org.apache.spark.sql.Dataset[T], batchId: Long) =>
      appendBatch(path, queryId)(batch.toDF(), batchId)
    }
}

package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession
import graft.streaming.EventStream

class DeltaLikeSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("deltalike-sink-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  test("stream appends land as table versions; replayed batches are skipped") {
    val sp = spark; import sp.implicits._
    val srcDir = tempDirs("sink_src")
    val tablePath = tempDirs("sink_table")
    val ckpt = tempDirs("sink_ckpt")

    def writeFile(ids: Range): Unit =
      ids.map(i => (i.toLong,
          java.sql.Timestamp.valueOf(f"2024-05-01 ${i % 24}%02d:00:00"),
          i.toLong % 7, "e", 1.0, null: String))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(srcDir)

    writeFile(0 until 50)
    writeFile(50 until 80)

    val stream = EventStream.readEventStream(spark, srcDir, maxFilesPerTrigger = 1)
    val q = DeltaLikeSink.writeStream(
        stream.writeStream.option("checkpointLocation", ckpt),
        tablePath, "sink-spec")
      .start()
    try {
      q.processAllAvailable()
    } finally q.stop()

    val t = DeltaLikeTable.forPath(spark, tablePath)
    assert(t.toDF.count() === 80)
    assert(t.version === 1) // two micro-batches → v0, v1
    assert(t.history().map(_._2).forall(_.startsWith("STREAM:sink-spec:")))

    // replay protection: re-running an already-committed batch is a no-op
    val batch0 = t.toDF(0)
    DeltaLikeSink.appendBatch(tablePath, "sink-spec")(batch0, 0L)
    assert(t.toDF.count() === 80, "replayed batch must not duplicate rows")
    assert(t.version === 1)

    // a NEW query id is a different stream → appends normally
    DeltaLikeSink.appendBatch(tablePath, "other-query")(batch0.limit(5), 0L)
    assert(t.toDF.count() === 85)

    // restart the same query against new source data: continues cleanly
    writeFile(80 until 90)
    val stream2 = EventStream.readEventStream(spark, srcDir, maxFilesPerTrigger = 1)
    val q2 = DeltaLikeSink.writeStream(
        stream2.writeStream.option("checkpointLocation", ckpt),
        tablePath, "sink-spec")
      .start()
    try {
      q2.processAllAvailable()
    } finally q2.stop()
    assert(t.toDF.count() === 95)
  }
}

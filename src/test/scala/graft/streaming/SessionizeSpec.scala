package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Gap-based sessionization: streaming (flatMapGroupsWithState +
  * event-time timeout) must emit exactly the sessions the batch window
  * formulation computes, once each, as the watermark closes them.
  */
class SessionizeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs
  private val GapMs = 30L * 60 * 1000 // 30 minutes

  override def beforeAll(): Unit = {
    spark = GraftSession.local("sessionize-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def ts(h: Int, m: Int) =
    java.sql.Timestamp.valueOf(f"2024-04-01 $h%02d:$m%02d:00")

  /** Two users, three sessions each, plus a far-future flush event. */
  private def eventRows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)] = {
    var id = 0L
    def e(u: Long, t: java.sql.Timestamp) = {
      id += 1; (id, t, u, "click", 1.0, null: String)
    }
    Seq(
      // user 1: session A (3 events, 0:00-0:20), B (1 event, 2:00), C (2, 5:00-5:10)
      e(1, ts(0, 0)), e(1, ts(0, 10)), e(1, ts(0, 20)),
      e(1, ts(2, 0)),
      e(1, ts(5, 0)), e(1, ts(5, 10)),
      // user 2: session D (2 events 1:00-1:25), E (1, 3:00), F (1, 6:00)
      e(2, ts(1, 0)), e(2, ts(1, 25)),
      e(2, ts(3, 0)),
      e(2, ts(6, 0)),
      // flush: watermark pusher on a third user far in the future
      e(9, ts(23, 0)))
  }

  test("streaming sessions equal batch sessions for watermark-closed sessions") {
    val sp = spark; import sp.implicits._
    val dir = tempDirs("sessions")
    // one file per trigger, in EVENT-TIME order — otherwise earlier
    // events of one user arrive below the watermark advanced by another
    // user's later events and are (correctly) dropped as late
    eventRows.sortBy(_._2.getTime).foreach { r =>
      Seq(r).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    }

    val stream = EventStream.readEventStream(spark, dir, maxFilesPerTrigger = 1)
      .withWatermark("ts", "1 minute")
      .as[EventStream.EventRow]
    val q = EventStream.sessionize(stream, GapMs)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sessions")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .toSet

      val batch = EventStream.sessionizeBatch(
          spark.read.schema(EventStream.eventSchema).parquet(dir), GapMs)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .toSet
      // the flush user's session (and any still-open session) is not yet
      // closed on the stream side; everything else must match exactly
      val closedBatch = batch.filterNot(_._1 == 9L)
        .filterNot(s => s._1 == 1L && s._2 == ts(5, 0))  // user 1's last session
        .filterNot(s => s._1 == 2L && s._2 == ts(6, 0))  // user 2's last session
      assert(closedBatch.subsetOf(got),
        s"missing sessions: ${closedBatch.diff(got)}")
      assert(got.subsetOf(batch), s"phantom sessions: ${got.diff(batch)}")
      // exactly-once: no duplicate (user, start)
      val keys = spark.table("sessions").select("user_id", "session_start").collect()
      assert(keys.length === keys.distinct.length)
      // sanity on a known session: user 1, 0:00-0:20, 3 events
      assert(got.contains((1L, ts(0, 0), ts(0, 20), 3L)))
    } finally q.stop()
  }

  test("q277 drained stream equals batch sessionization on the fixture") {
    val d = "/root/testdata/sf0.001"
    val got = EventStream.q277StreamSessionize(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val want = EventStream.q66Sessionize(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(got === want,
      s"missing ${want.diff(got).take(3)}, phantom ${got.diff(want).take(3)}")
    assert(got.nonEmpty)
  }

  test("batch sessionization shapes: gaps split, counts add up") {
    val sp = spark; import sp.implicits._
    val df = eventRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val sessions = EventStream.sessionizeBatch(df, GapMs)
    val perUser = sessions.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(perUser(1L) === ((3L, 6L)))
    assert(perUser(2L) === ((3L, 4L)))
    assert(perUser(9L) === ((1L, 1L)))
  }
}

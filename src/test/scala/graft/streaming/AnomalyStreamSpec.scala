package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Streaming Welford z-score anomaly detection: the stream
  * (mapGroupsWithState moments per event type) must flag exactly the
  * events the sequential replay flags, with the same z-scores,
  * regardless of how the stream is chopped into micro-batches.
  */
class AnomalyStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("anomaly-stream-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)

  /** 40 calm clicks (values 9.5/10.5 alternating), one 100.0 spike,
    * then more calm — plus a second type that never spikes.
    */
  private def eventRows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)] = {
    val calm = (1 to 40).map { i =>
      (i.toLong, ts(i), 1L, "click", if (i % 2 == 0) 9.5 else 10.5, null: String)
    }
    val spike = Seq((41L, ts(41), 1L, "click", 100.0, null: String))
    val after = (42 to 50).map { i =>
      (i.toLong, ts(i), 1L, "click", 10.0, null: String)
    }
    val other = (51 to 90).map { i =>
      (i.toLong, ts(i), 2L, "view", (i % 3).toDouble, null: String)
    }
    calm ++ spike ++ after ++ other
  }

  test("stream flags exactly the replay's anomalies across micro-batches") {
    val sp = spark; import sp.implicits._
    val dir = tempDirs("anomalies")
    // several files → several micro-batches; state must carry across
    eventRows.sortBy(_._2.getTime).grouped(13).foreach { chunk =>
      chunk.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    }

    val stream = EventStream.readEventStream(spark, dir, maxFilesPerTrigger = 1)
      .as[EventStream.EventRow]
    val q = EventStream.anomalies(stream, minN = 30, threshold = 3.0)
      .writeStream.format("memory").queryName("anomalies")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("anomalies").collect()
        .map(r => (r.getString(0), r.getLong(1),
          BigDecimal(r.getDouble(4)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
        .toSet

      val rows = eventRows.map { case (id, t, u, ty, v, p) =>
        EventStream.EventRow(id, t, u, ty, v, p)
      }
      val want = EventStream.anomaliesReplay(rows, minN = 30, threshold = 3.0)
        .map(a => (a.event_type, a.event_id,
          BigDecimal(a.z).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
        .toSet
      assert(want.nonEmpty, "the planted spike must be flagged")
      assert(got === want)
      // the spike is the only click anomaly; the calm tail (scored
      // against spike-inflated variance) and the warm-up stay silent
      assert(got.count(_._1 == "click") === 1)
      assert(got.forall(_._2 === 41L))
    } finally q.stop()
  }

  test("replay semantics: warm-up silent, pre-update scoring, sd=0 guarded") {
    // constant values: sd = 0 forever → no anomaly even at a jump
    // below minN
    val const = (1 to 20).map(i =>
      EventStream.EventRow(i.toLong, ts(i), 1L, "t", 5.0, null))
    assert(EventStream.anomaliesReplay(const, minN = 5, threshold = 1.0)
      .isEmpty)
    // the first deviating value AFTER warm-up is scored against the
    // PRE-update moments (sd 0 → guarded), the next one against
    // moments that now include the jump
    val jump = const ++ Seq(
      EventStream.EventRow(21L, ts(21), 1L, "t", 50.0, null),
      EventStream.EventRow(22L, ts(22), 1L, "t", 50.0, null))
    val hits = EventStream.anomaliesReplay(jump, minN = 5, threshold = 1.0)
    assert(hits.map(_.event_id) === Seq(22L),
      "sd=0 guards the first jump; the second is scored against real variance")
  }

  test("fold order is µs-precision: same-ms events process in sub-ms " +
    "time order, not event_id order") {
    // two spikes inside ONE millisecond, event_id order REVERSED from
    // µs order: id 42 at +500µs, id 41 at +900µs. A ms-truncated key
    // would tiebreak by id and give n_seen=40 to id 41; the µs key
    // (which is what q280's epoch_us-ordered SQL oracle computes) must
    // give n_seen=40 to id 42. Values alternate so sd > 0 at warm-up.
    def at(ms: Long, micro: Int): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(ms)
      t.setNanos(((ms % 1000) * 1000000 + micro * 1000).toInt)
      t
    }
    val base = 1700000000000L
    val calm = (1 to 40).map(i => EventStream.EventRow(
      i.toLong, at(base + i * 1000, 0), 1L, "click",
      if (i % 2 == 0) 9.5 else 10.5, null))
    val sameMs = Seq(
      EventStream.EventRow(42L, at(base + 41000, 500), 1L, "click", 100.0, null),
      EventStream.EventRow(41L, at(base + 41000, 900), 1L, "click", 100.0, null))
    val hits = EventStream.anomaliesReplay(calm ++ sameMs,
      minN = 30, threshold = 3.0)
    assert(hits.map(h => (h.event_id, h.n_seen)) === Seq((42L, 40L), (41L, 41L)),
      "the +500µs event must score FIRST (against 40 calm priors)")
  }
}

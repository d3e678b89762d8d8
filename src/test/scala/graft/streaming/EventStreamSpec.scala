package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.{GraftSession, Tables}

/** Batch-vs-stream equivalence (SURVEY.md §5.5): the same aggregation
  * function over the same rows must produce the same relation whether it
  * ran once over files or incrementally over triggers — plus watermark
  * semantics (late drop, window finalization) that only exist on the
  * stream side.
  */
class EventStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.local("stream-spec", cores = 4,
      extraConf = Map("spark.sql.streaming.schemaInference" -> "false"))
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("windowed aggregation: stream (complete mode) equals batch") {
    val dir = tempDirs("evstream")
    val events = Tables.events(spark, sfDir).drop("props")
      .withColumn("props", lit(null).cast("string"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // several files → several triggers with maxFilesPerTrigger=1
    events.repartition(5).write.mode("overwrite").parquet(dir)

    val stream = EventStream.readEventStream(spark, dir)
    val q = EventStream.windowedByType(stream)
      .writeStream.format("memory").queryName("win_complete")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = canon(spark.table("win_complete"))
      val want = canon(EventStream.windowedByType(
        spark.read.schema(EventStream.eventSchema).parquet(dir)))
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("watermark: late events dropped, closed windows emitted once") {
    val sp = spark; import sp.implicits._
    val dir = tempDirs("evlate")
    def ts(h: Int, m: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-03-01 ${h}%02d:${m}%02d:00")
    def write(name: String, rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)

    // file batch 1: on-time events in hours 0..3
    write("f1", (0 until 8).map(i =>
      (i.toLong, ts(i / 2), 1L, "click", 1.0, null: String)))
    val stream = EventStream.readEventStream(spark, dir, maxFilesPerTrigger = 1)
    val q = EventStream.windowedWithWatermark(stream, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_append")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: a hopelessly late event (hour 0 was closed by watermark 2:50)
      write("f2", Seq((100L, ts(0, 30), 9L, "late", 99.0, null: String)))
      q.processAllAvailable()
      // batch 3: far-future event pushes the watermark, closing hours 0..3
      write("f3", Seq((200L, ts(23), 1L, "flush", 1.0, null: String)))
      q.processAllAvailable()

      val out = spark.table("win_append")
        .select(col("win_start"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      // the four on-time windows, 2 events each, finalized exactly once
      (0 until 4).foreach { h =>
        assert(out.contains((ts(h), "click", 2L)), s"missing window hour $h in $out")
      }
      // the late event's update never appears
      assert(!out.exists(_._2 == "late"), s"late event leaked: $out")
      // the future window is still open → not emitted in append mode
      assert(!out.exists(_._2 == "flush"))
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join") {
    val dir = tempDirs("evjoin")
    Tables.events(spark, sfDir).drop("props")
      .withColumn("props", lit(null).cast("string"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4).write.mode("overwrite").parquet(dir)

    def split(df: DataFrame): (DataFrame, DataFrame) =
      (df.where(col("event_type") === "click"),
        df.where(col("event_type") === "purchase"))

    val (sc, sp2) = split(EventStream.readEventStream(spark, dir, maxFilesPerTrigger = 2))
    val q = EventStream.intervalJoin(sc, sp2, "user_id", maxDelay = "30 minutes")
      .writeStream.format("memory").queryName("funnel").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = canon(spark.table("funnel"))
      val (bc, bp) = split(spark.read.schema(EventStream.eventSchema).parquet(dir))
      val want = canon(EventStream.intervalJoin(bc, bp, "user_id", maxDelay = "30 minutes"))
      assert(got === want)
      assert(got.nonEmpty, "fixture produced no click->purchase pairs")
    } finally q.stop()
  }

  test("streaming dedup within watermark: duplicates across batches collapse to one") {
    val sp = spark; import sp.implicits._
    val dir = tempDirs("evdedup")
    def ts(h: Int, m: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-03-01 ${h}%02d:${m}%02d:00")
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)

    // batch 1: events 1..4; event 2 duplicated within the batch
    write(Seq(
      (1L, ts(1), 1L, "doc the quick fox", 1.0, null: String),
      (2L, ts(1, 10), 1L, "doc the lazy dog", 1.0, null: String),
      (2L, ts(1, 10), 1L, "doc the lazy dog", 1.0, null: String),
      (3L, ts(1, 20), 2L, "doc quick the fox", 1.0, null: String)))

    val stream = EventStream.readEventStream(spark, dir, maxFilesPerTrigger = 1)
    // fingerprint dedup: token-set md5 makes reorderings of the same
    // vocabulary duplicates (event 3 is a reordering of event 1's text)
    val deduped = EventStream.dedupWithinWatermark(
      EventStream.fingerprinted(stream, "event_type"),
      keyCols = Seq("fingerprint"), lateness = "2 hours")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2 (separate trigger): event 2's text again within watermark
      write(Seq((4L, ts(1, 30), 3L, "doc the lazy dog", 1.0, null: String)))
      q.processAllAvailable()

      val ids = spark.table("dedup_stream")
        .select(col("event_id")).collect().map(_.getLong(0)).toSeq.sorted
      // events 1 and 2 survive; 3 (reordered text) and 4 (cross-batch dup)
      // collapse; the within-batch duplicate of 2 emits once
      assert(ids === Seq(1L, 2L))
      // batch twin: distinct fingerprints over the same files
      val batchDistinct = EventStream.fingerprinted(
        spark.read.schema(EventStream.eventSchema).parquet(dir), "event_type")
        .select(col("fingerprint")).distinct().count()
      assert(batchDistinct === 2L)
    } finally q.stop()
  }

  test("mapGroupsWithState per-user profiles: streaming final state equals batch") {
    val sp = spark; import sp.implicits._
    val dir = tempDirs("evstate")
    Tables.events(spark, sfDir).drop("props")
      .withColumn("props", lit(null).cast("string"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4).write.mode("overwrite").parquet(dir)

    val stream = EventStream.readEventStream(spark, dir)
      .as[EventStream.EventRow]
    val q = EventStream.userProfiles(stream)
      .writeStream.format("memory").queryName("profiles")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // last update per user = final state
      // n_events is strictly increasing per user update, so the row with
      // max n_events is the final state (sink row order is unspecified)
      val got = spark.table("profiles")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("sum_value"), col("last_ts"))).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.sum_value"), col("s.last_ts"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getTimestamp(3))))
        .toMap
      val want = EventStream.userProfilesBatch(
          spark.read.schema(EventStream.eventSchema).parquet(dir))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getTimestamp(3))))
        .toMap
      assert(got.keySet === want.keySet)
      got.foreach { case (u, (n, s, t)) =>
        val (wn, ws, wt) = want(u)
        assert(n === wn, s"user $u count")
        assert(math.abs(s - ws) < 1e-6, s"user $u sum: $s vs $ws")
        assert(t === wt, s"user $u last_ts")
      }
    } finally q.stop()
  }
}

package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** The deltalike table as a Structured Streaming source: version-offset
  * exactly-once delivery, OPTIMIZE transparency, rewrite refusal /
  * skipChangeCommits, and checkpoint-restart continuity (which exercises
  * the SerializedOffset deserialization path).
  */
class DeltaLikeStreamSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("deltalike-stream-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def rows(n: Range): DataFrame = {
    val sp = spark; import sp.implicits._
    n.map(i => (i.toLong, s"v$i")).toDF("id", "v")
  }

  test("stream delivers snapshot then appends, each row exactly once") {
    val path = tempDirs("dls")
    DeltaLikeTable.write(rows(1 to 20), path)

    val q = spark.readStream.format("deltalike").load(path)
      .writeStream.format("memory").queryName("dls_snap").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("dls_snap").count() === 20)

      DeltaLikeTable.write(rows(100 to 109), path, "append")
      DeltaLikeTable.write(rows(200 to 204), path, "append")
      q.processAllAvailable()
      val got = spark.table("dls_snap").select("id").collect().map(_.getLong(0))
      assert(got.length === 35, "each appended row must arrive exactly once")
      assert(got.toSet.size === 35)

      // OPTIMIZE rewrites already-delivered rows: nothing new arrives
      DeltaLikeTable.forPath(spark, path).optimize()
      q.processAllAvailable()
      assert(spark.table("dls_snap").count() === 35)
    } finally q.stop()
  }

  test("rewriting commit fails the stream; skipChangeCommits skips it and continues") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("dls_rw")
    DeltaLikeTable.write(rows(1 to 10), path)
    val t = DeltaLikeTable.forPath(spark, path)

    val strict = spark.readStream.format("deltalike").load(path)
      .writeStream.format("memory").queryName("dls_strict").outputMode("append")
      .start()
    try {
      strict.processAllAvailable()
      t.as("t").merge(Seq((1L, "UPD")).toDF("id", "v").as("s"), "t.id = s.id")
        .whenMatchedUpdateAll().execute()
      val e = intercept[StreamingQueryException] { strict.processAllAvailable() }
      assert(e.getCause.getMessage.contains("rewrites files"))
    } finally strict.stop()

    // permissive reader over the same history: the merge version is
    // skipped, later appends still flow
    val permissive = spark.readStream.format("deltalike")
      .option("skipChangeCommits", "true").load(path)
      .writeStream.format("memory").queryName("dls_skip").outputMode("append")
      .start()
    try {
      permissive.processAllAvailable()
      assert(spark.table("dls_skip").count() === 10) // start snapshot = post-merge head
      DeltaLikeTable.write(rows(50 to 54), path, "append")
      permissive.processAllAvailable()
      assert(spark.table("dls_skip").count() === 15)
      assert(spark.table("dls_skip").where("v = 'UPD'").count() === 1,
        "stream-start snapshot is the current (post-merge) table")
    } finally permissive.stop()
  }

  test("readChangeFeed streams row-level changes, rewriting commits included") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("dls_cdf")
    DeltaLikeTable.write(rows(1 to 5), path)

    val q = spark.readStream.format("deltalike")
      .option("readChangeFeed", "true").load(path)
      .writeStream.format("memory").queryName("dls_cdf").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      // CDF stream start: the current snapshot arrives as inserts
      val initial = spark.table("dls_cdf").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(initial.length === 5 && initial.forall(_._3 == "insert"))

      // a MERGE — the commit type changesSince refuses — streams as
      // delete+insert pairs; copied rows do not reappear
      DeltaLikeTable.forPath(spark, path).as("t")
        .merge(Seq((2L, "UPD"), (99L, "NEW")).toDF("id", "v").as("s"), "t.id = s.id")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      q.processAllAvailable()
      val changes = spark.table("dls_cdf").where("_commit_version = 1").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(changes === Set(
        (2L, "UPD", "insert"), (2L, "v2", "delete"), (99L, "NEW", "insert")))
      assert(spark.table("dls_cdf").count() === 8)
    } finally q.stop()
  }

  test("streaming ETL: table → transform → table, exactly-once across restart") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    val src = tempDirs("etl_src")
    val dst = tempDirs("etl_dst")
    val ckpt = tempDirs("etl_ckpt")
    DeltaLikeTable.write(rows(1 to 20), src)

    // versioned table → stream → filter/derive → versioned table: the
    // full streaming ETL loop through the engine's own source AND sink
    def start() = DeltaLikeSink.writeStream(
      spark.readStream.format("deltalike").load(src)
        .where("id % 2 = 0")
        .withColumn("doubled", col("id") * 2)
        .writeStream, dst, "etl-q")
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    val t = DeltaLikeTable.forPath(spark, dst)
    assert(t.toDF.count() === 10)
    assert(t.toDF.where("doubled != id * 2").count() === 0)

    DeltaLikeTable.write(rows(21 to 30), src, "append") // while stream is down

    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val ids = t.toDF.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (2L to 30L by 2).toSeq,
      s"evens of 1..30 exactly once, got ${ids.mkString(",")}")
    // the destination is itself a versioned table with stream provenance
    assert(t.history().exists(_._2.startsWith("STREAM:etl-q:")))
  }

  test("checkpoint restart resumes from the committed version (no reprocessing)") {
    val path = tempDirs("dls_ck")
    val ckpt = tempDirs("dls_ckpt")
    val out = tempDirs("dls_out")
    DeltaLikeTable.write(rows(1 to 8), path)

    // parquet sink: supports checkpoint recovery AND appends, so any
    // reprocessing after restart would surface as duplicate rows
    def start() = spark.readStream.format("deltalike").load(path)
      .writeStream.format("parquet").outputMode("append")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() === 8)
    } finally q1.stop()

    // rows committed while the stream is DOWN
    DeltaLikeTable.write(rows(300 to 309), path, "append")

    val q2 = start()
    try {
      q2.processAllAvailable()
      // resumed from the checkpointed version offset (deserialized
      // SerializedOffset): the offline appends arrive once, the initial
      // snapshot is NOT reprocessed
      val got = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq === ((1L to 8L) ++ (300L to 309L)).toSeq,
        s"expected 8 snapshot + 10 offline rows exactly once, got ${got.mkString(",")}")
    } finally q2.stop()
  }

  test("maxVersionsPerTrigger bounds each micro-batch; backlog drains completely") {
    val path = tempDirs("dls_rate")
    DeltaLikeTable.write(rows(1 to 5), path)

    val q = spark.readStream.format("deltalike")
      .option("maxVersionsPerTrigger", "2").load(path)
      .writeStream.format("memory").queryName("dls_rate").outputMode("append")
      .start()
    try {
      q.processAllAvailable() // initial snapshot: one (uncapped) batch
      val snapshotBatches = q.recentProgress.count(_.numInputRows > 0)

      // 6 append versions accumulate while the stream is idle — a capped
      // stream must drain them 2 versions per micro-batch, not in one
      // catch-up batch
      (0 until 6).foreach(i => DeltaLikeTable.write(
        rows((100 + 10 * i) until (100 + 10 * i + 10)), path, "append"))
      q.processAllAvailable()

      val got = spark.table("dls_rate").select("id").collect().map(_.getLong(0))
      assert(got.length === 65 && got.toSet.size === 65,
        "every backlog row exactly once despite the cap")
      val drainBatches =
        q.recentProgress.count(_.numInputRows > 0) - snapshotBatches
      assert(drainBatches >= 3,
        s"6-version backlog under maxVersionsPerTrigger=2 needs >=3 " +
          s"micro-batches, saw $drainBatches")

      // live appends keep draining under the cap, exactly once
      (0 until 3).foreach(i => DeltaLikeTable.write(
        rows((500 + 10 * i) until (500 + 10 * i + 10)), path, "append"))
      q.processAllAvailable()
      val all = spark.table("dls_rate").select("id").collect().map(_.getLong(0))
      assert(all.length === 95 && all.toSet.size === 95)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains everything then terminates") {
    val path = tempDirs("dls_avnow")
    DeltaLikeTable.write(rows(1 to 10), path)
    (0 until 3).foreach(i => DeltaLikeTable.write(
      rows((50 + 5 * i) until (50 + 5 * i + 5)), path, "append"))

    val q = spark.readStream.format("deltalike").load(path)
      .writeStream.format("memory").queryName("dls_avnow").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000),
        "AvailableNow query must terminate on its own")
      val got = spark.table("dls_avnow").select("id").collect().map(_.getLong(0))
      assert(got.length === 25 && got.toSet.size === 25,
        "batch-style drain must deliver every row exactly once")
    } finally q.stop()
  }
}

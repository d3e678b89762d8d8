package graft.tables

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

class ChangeReaderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("changereader-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  test("incremental reads deliver each appended row exactly once") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("cdc")
    DeltaLikeTable.write((1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path)

    // consumer loop: track offset, read deltas
    var offset = ChangeReader.latestVersion(path) // saw v0 as the initial load
    val seen = scala.collection.mutable.Set.empty[Long]
    seen ++= DeltaLikeTable.forPath(spark, path).toDF
      .select("id").collect().map(_.getLong(0))

    (1 to 3).foreach { round =>
      DeltaLikeTable.write(
        (round * 100 until round * 100 + 10).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
        path, "append")
      val delta = ChangeReader.changesSince(spark, path, offset)
      offset = ChangeReader.latestVersion(path)
      val ids = delta.select("id").collect().map(_.getLong(0))
      assert(ids.length === 10, s"round $round delivered ${ids.length}")
      assert(ids.forall(i => i >= round * 100 && i < round * 100 + 10))
      ids.foreach(i => assert(seen.add(i), s"row $i delivered twice"))
    }
    assert(seen.size === 80)
    // caught-up consumer gets an empty delta
    assert(ChangeReader.changesSince(spark, path, offset).count() === 0)
  }

  test("OPTIMIZE versions are skipped; rewriting versions are rejected") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("cdc_opt")
    DeltaLikeTable.write((1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path)
    val offset = ChangeReader.latestVersion(path)
    DeltaLikeTable.write((31 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      path, "append")
    val t = DeltaLikeTable.forPath(spark, path)
    t.optimize() // rewrite, logical no-op
    // delta across the optimize: only the true appends, not the rewrite
    val delta = ChangeReader.changesSince(spark, path, offset)
    assert(delta.count() === 10)

    // a merge is a genuine rewrite → incremental read refuses
    t.as("t").merge(
        Seq((1L, "UPD")).toDF("id", "v").as("s"), "t.id = s.id")
      .whenMatchedUpdateAll().execute()
    val e = intercept[UnsupportedOperationException] {
      ChangeReader.changesSince(spark, path, offset).count()
    }
    assert(e.getMessage.contains("rewrites files"))
  }

  test("changeFeed delivers row-level changes across MERGE/DELETE exactly once") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("cdc_feed")
    DeltaLikeTable.write((1 to 5).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path)
    val t = DeltaLikeTable.forPath(spark, path)

    // v1: MERGE updating one row and inserting one — the rewrite copies
    // the 4 untouched rows into a new file; those must NOT reappear
    t.as("t").merge(
        Seq((2L, "UPD"), (99L, "NEW")).toDF("id", "v").as("s"), "t.id = s.id")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()

    def rows(feed: org.apache.spark.sql.DataFrame): Set[(Long, String, String, Long)] =
      feed.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

    assert(rows(ChangeReader.changeFeed(spark, path, 0)) === Set(
      (2L, "UPD", "insert", 1L), // update post-image
      (2L, "v2", "delete", 1L),  // update pre-image
      (99L, "NEW", "insert", 1L)))

    // v2: DELETE — pre-image rows surface as deletes only
    t.delete("id = 3")
    assert(rows(ChangeReader.changeFeed(spark, path, 1)) ===
      Set((3L, "v3", "delete", 2L)))

    // v3 OPTIMIZE is a logical no-op; v4 append surfaces as plain inserts
    t.optimize()
    DeltaLikeTable.write(Seq((100L, "x")).toDF("id", "v"), path, "append")
    assert(rows(ChangeReader.changeFeed(spark, path, 2)) ===
      Set((100L, "x", "insert", 4L)))

    // whole-history feed replays the table: v0 initial load as inserts,
    // then every change exactly once; inserts minus deletes = head state
    val full = ChangeReader.changeFeed(spark, path, -1)
    assert(full.where("_commit_version = 0").count() === 5)
    val net = full.where("_change_type = 'insert'")
      .select("id", "v")
      .exceptAll(full.where("_change_type = 'delete'").select("id", "v"))
    assert(rowsOf(net) === rowsOf(t.toDF.select("id", "v")))
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("incremental aggregate maintenance: netChanges + MERGE tracks the full recompute") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions._
    val corpus = tempDirs("cdc_corpus")
    val agg = tempDirs("cdc_agg") + "/t"

    // v0 corpus + initial aggregate
    DeltaLikeTable.write(
      Seq((1L, "en"), (2L, "en"), (3L, "fr"), (4L, "de")).toDF("doc_id", "lang"),
      corpus)
    val corpusT = DeltaLikeTable.forPath(spark, corpus)
    DeltaLikeTable.write(
      corpusT.toDF.groupBy("lang").agg(count(lit(1)).as("n")), agg)
    val aggT = DeltaLikeTable.forPath(spark, agg)
    var offset = corpusT.version

    def applyChanges(): Unit = {
      val net = ChangeReader.netChanges(spark, corpus, offset, Seq("lang"))
      aggT.as("t").merge(net.as("s"), "t.lang = s.lang")
        .whenMatchedDelete(expr("t.n + s.net <= 0"))
        .whenMatchedUpdate(Map("n" -> expr("t.n + s.net")))
        .whenNotMatchedInsert(Map("lang" -> col("s.lang"), "n" -> col("s.net")))
        .execute()
      offset = corpusT.version
    }
    def full(): Set[(String, Long)] =
      corpusT.toDF.groupBy("lang").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def maintained(): Set[(String, Long)] =
      aggT.toDF.collect().map(r => (r.getString(0), r.getLong(1))).toSet

    // appends, a delete emptying a group, a merge rewriting a row, a
    // new group — after each batch the maintained aggregate must equal
    // the full recompute
    DeltaLikeTable.write(Seq((5L, "en"), (6L, "zh")).toDF("doc_id", "lang"),
      corpus, "append")
    applyChanges()
    assert(maintained() === full())

    corpusT.delete(expr("lang = 'fr'"))
    applyChanges()
    assert(maintained() === full())
    assert(!maintained().exists(_._1 == "fr"), "emptied group must be deleted")

    corpusT.as("t").merge(
      Seq((2L, "de")).toDF("doc_id", "lang").as("s"), "t.doc_id = s.doc_id")
      .whenMatchedUpdateAll().execute() // en -> de: net -1 en, +1 de
    applyChanges()
    assert(maintained() === full())
  }
}

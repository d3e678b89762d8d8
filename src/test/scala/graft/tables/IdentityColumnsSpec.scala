package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession
import DeltaLikeTable.IdentityColumn

/** Identity columns: engine-assigned unique ids with a log watermark —
  * dense within a batch, monotonic across commits, never reused
  * (including across overwrite and restore).
  */
class IdentityColumnsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("identity-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def tmp(): String = tempDirs("identity")

  test("ALWAYS identity assigns dense unique ids and appends continue the sequence") {
    val sp = spark; import sp.implicits._
    val path = tmp()
    val batch1 = (1 to 100).map(i => (s"row$i", i)).toDF("name", "n").repartition(8)
    DeltaLikeTable.write(batch1, path,
      identityColumns = Map("id" -> IdentityColumn()))
    val t = DeltaLikeTable.forPath(spark, path)
    val ids1 = t.toDF.select("id").collect().map(_.getLong(0)).sorted
    assert(ids1.toSeq === (1L to 100L))

    DeltaLikeTable.write(
      (1 to 50).map(i => (s"b$i", i)).toDF("name", "n").repartition(4),
      path, "append")
    val ids2 = t.toDF.select("id").collect().map(_.getLong(0)).sorted
    assert(ids2.toSeq === (1L to 150L), "append continues from the watermark")
  }

  test("start and step are honored") {
    val sp = spark; import sp.implicits._
    val path = tmp()
    DeltaLikeTable.write(Seq("a", "b", "c").toDF("v"), path,
      identityColumns = Map("id" -> IdentityColumn(start = 100L, step = 10L)))
    val ids = DeltaLikeTable.forPath(spark, path).toDF
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(100L, 110L, 120L))
  }

  test("supplying an ALWAYS identity column is rejected") {
    val sp = spark; import sp.implicits._
    val path = tmp()
    DeltaLikeTable.write(Seq("a").toDF("v"), path,
      identityColumns = Map("id" -> IdentityColumn()))
    val e = intercept[IllegalArgumentException] {
      DeltaLikeTable.write(Seq((99L, "x")).toDF("id", "v"), path, "append")
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"))
  }

  test("BY DEFAULT allows explicit values and does not advance the watermark") {
    val sp = spark; import sp.implicits._
    val path = tmp()
    DeltaLikeTable.write(Seq("a", "b").toDF("v"), path,
      identityColumns = Map("id" -> IdentityColumn(always = false))) // ids 1,2
    DeltaLikeTable.write(Seq((500L, "explicit")).toDF("id", "v"), path, "append")
    DeltaLikeTable.write(Seq("c").toDF("v"), path, "append") // assigns 3
    val out = DeltaLikeTable.forPath(spark, path).toDF
      .select("id", "v").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out === Seq((1L, "a"), (2L, "b"), (3L, "c"), (500L, "explicit")))
  }

  test("overwrite keeps the watermark: ids are never reused") {
    val sp = spark; import sp.implicits._
    val path = tmp()
    DeltaLikeTable.write(Seq("a", "b", "c").toDF("v"), path,
      identityColumns = Map("id" -> IdentityColumn())) // ids 1..3
    DeltaLikeTable.write(Seq("x").toDF("v"), path, "overwrite")
    val ids = DeltaLikeTable.forPath(spark, path).toDF
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ids === Seq(4L), "post-overwrite assignment continues past old ids")
  }

  test("restore does not regress the watermark") {
    val sp = spark; import sp.implicits._
    val path = tmp()
    DeltaLikeTable.write(Seq("a").toDF("v"), path,
      identityColumns = Map("id" -> IdentityColumn())) // v0: id 1
    DeltaLikeTable.write(Seq("b", "c").toDF("v"), path, "append") // v1: 2,3
    val t = DeltaLikeTable.forPath(spark, path)
    t.restore(0)
    DeltaLikeTable.write(Seq("d").toDF("v"), path, "append")
    val ids = t.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 4L), "new id allocated past the pre-restore range")
  }

  test("writer option declares identity: format(deltalike).option(identityColumn,...)") {
    val sp = spark; import sp.implicits._
    val path = tmp()
    Seq("a", "b").toDF("v").write.format("deltalike").mode("overwrite")
      .option("identityColumn", "id:5:5").save(path)
    // a writer option repeats on every batch — identical re-declaration
    // must be accepted on append, a changed one refused
    Seq("c").toDF("v").write.format("deltalike").mode("append")
      .option("identityColumn", "id:5:5").save(path)
    val ids = DeltaLikeTable.forPath(spark, path).toDF
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(5L, 10L, 15L))
    assert(intercept[IllegalArgumentException] {
      Seq("d").toDF("v").write.format("deltalike").mode("append")
        .option("identityColumn", "id:1:1").save(path)
    }.getMessage.contains("different identity"))
  }

  test("identity and cluster columns cannot be renamed or dropped") {
    val sp = spark; import sp.implicits._
    val path = tmp()
    DeltaLikeTable.write(Seq((1L, 2L, "a")).toDF("x", "y", "v"), path,
      identityColumns = Map("id" -> IdentityColumn()),
      clusterBy = Seq("x"))
    val t = DeltaLikeTable.forPath(spark, path)
    assert(intercept[IllegalArgumentException] {
      t.dropColumn("id")
    }.getMessage.contains("identity"))
    assert(intercept[IllegalArgumentException] {
      t.renameColumn("x", "x2")
    }.getMessage.contains("cluster"))
    t.renameColumn("v", "label") // unreferenced columns still rename
    assert(t.toDF.columns.contains("label"))
  }

  test("DESCRIBE DETAIL surfaces identity and clustering properties") {
    val sp = spark; import sp.implicits._
    val path = tmp()
    DeltaLikeTable.write(Seq((1L, 2L, "a")).toDF("x", "y", "v"), path,
      identityColumns = Map("id" -> IdentityColumn()),
      clusterBy = Seq("x", "y"))
    val det = DeltaLikeTable.forPath(spark, path).detail().collect().head
    assert(det.getAs[Seq[String]]("identity_columns") === Seq("id"))
    assert(det.getAs[Seq[String]]("cluster_by") === Seq("x", "y"))
  }

  test("MERGE insert into an ALWAYS identity table is rejected; update-only works") {
    val sp = spark; import sp.implicits._
    val path = tmp()
    DeltaLikeTable.write(Seq(("a", 1), ("b", 2)).toDF("v", "n"), path,
      identityColumns = Map("id" -> IdentityColumn()))
    val t = DeltaLikeTable.forPath(spark, path)
    val src = Seq(("a", 10), ("z", 99)).toDF("v", "n")
    val e = intercept[UnsupportedOperationException] {
      t.as("t").merge(src.as("s"), expr("t.v = s.v"))
        .whenMatchedUpdate(Map("n" -> col("s.n")))
        .whenNotMatchedInsertAll().execute()
    }
    assert(e.getMessage.contains("identity"))
    t.as("t").merge(src.as("s"), expr("t.v = s.v"))
      .whenMatchedUpdate(Map("n" -> col("s.n"))).execute()
    val out = t.toDF.orderBy("id").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(out === Seq(("a", 10), ("b", 2)))
  }
}

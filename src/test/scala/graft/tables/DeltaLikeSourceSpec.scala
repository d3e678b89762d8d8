package graft.tables

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

class DeltaLikeSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("deltalike-source-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def tmp(): String = tempDirs("dlsource")

  test("format round-trip: write overwrite/append, read latest and versionAsOf") {
    val path = tmp()
    val sp = spark; import sp.implicits._
    val v0 = (1 to 100).map(i => (i.toLong, s"row$i", i * 1.5)).toDF("id", "name", "x")
    v0.write.format("deltalike").mode("overwrite").save(path)
    (101 to 120).map(i => (i.toLong, s"row$i", i * 1.5)).toDF("id", "name", "x")
      .write.format("deltalike").mode("append").save(path)

    assert(spark.read.format("deltalike").load(path).count() === 120)
    assert(spark.read.format("deltalike").option("versionAsOf", "0")
      .load(path).count() === 100)
    // column pruning + filter through the relation
    val got = spark.read.format("deltalike").load(path)
      .where($"id" > 115).select("name").orderBy("id")
      .as[String].collect().toSeq
    assert(got === (116 to 120).map(i => s"row$i"))
  }

  test("data skipping prunes files by min/max and null counts") {
    val schema = StructType.fromDDL("id BIGINT, v STRING")
    val fileLow = AddFile("a.parquet", 0, 100,
      Map("id" -> "1"), Map("id" -> "100"), Map("id" -> 0L, "v" -> 0L))
    val fileHigh = AddFile("b.parquet", 0, 100,
      Map("id" -> "101"), Map("id" -> "200"), Map("id" -> 0L, "v" -> 100L))
    val snap = Snapshot(0, schema, Seq(fileLow, fileHigh), "/t")

    def kept(f: Filter): Seq[String] = DataSkipping.prune(snap, Seq(f)).map(_.path)

    assert(kept(EqualTo("id", 50L)) === Seq("a.parquet"))
    assert(kept(EqualTo("id", 150L)) === Seq("b.parquet"))
    assert(kept(EqualTo("id", 100L)) === Seq("a.parquet"))
    assert(kept(GreaterThan("id", 100L)) === Seq("b.parquet"))
    assert(kept(GreaterThanOrEqual("id", 100L)) === Seq("a.parquet", "b.parquet"))
    assert(kept(LessThan("id", 1L)) === Seq.empty)
    assert(kept(In("id", Array(5L, 300L))) === Seq("a.parquet"))
    assert(kept(And(GreaterThan("id", 20L), LessThan("id", 40L))) === Seq("a.parquet"))
    assert(kept(Or(LessThan("id", 0L), GreaterThan("id", 500L))) === Seq.empty)
    // v is all-null in b.parquet → IsNotNull skips it
    assert(kept(IsNotNull("v")) === Seq("a.parquet"))
    assert(kept(IsNull("v")) === Seq("b.parquet"))
    // unsupported shapes keep everything
    assert(kept(StringStartsWith("v", "x")) === Seq("a.parquet", "b.parquet"))
  }

  test("skipping is consistent with written stats end-to-end") {
    val path = tmp()
    val sp = spark; import sp.implicits._
    // two files with disjoint id ranges via repartitionByRange
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(2, $"id")
      .write.format("deltalike").mode("overwrite").save(path)
    val snap = DeltaLog.forPath(path).snapshot()
    assert(snap.files.size === 2)
    val pruned = DataSkipping.prune(snap, Seq(EqualTo("id", 1L)))
    assert(pruned.size === 1)
    // and the format read still returns the right answer
    val row = spark.read.format("deltalike").load(path)
      .where($"id" === 1L).select("v").head()
    assert(row.getString(0) === "v1")
  }

  test("timestamp stats skip correctly") {
    val path = tmp()
    val sp = spark; import sp.implicits._
    val df = (0 until 48).map { h =>
      (h.toLong, java.sql.Timestamp.valueOf(f"2024-01-${1 + h / 24}%02d ${h % 24}%02d:00:00"))
    }.toDF("id", "ts").repartitionByRange(2, $"ts")
    df.write.format("deltalike").mode("overwrite").save(path)
    val snap = DeltaLog.forPath(path).snapshot()
    val cutoff = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val pruned = DataSkipping.prune(snap, Seq(GreaterThanOrEqual("ts", cutoff)))
    assert(pruned.size === 1)
    assert(spark.read.format("deltalike").load(path)
      .where($"ts" >= lit(cutoff)).count() === 24)
  }
}

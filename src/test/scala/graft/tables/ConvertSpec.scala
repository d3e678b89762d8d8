package graft.tables

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** CONVERT TO DELTALIKE: in-place registration of a plain parquet
  * directory — files recorded at version 0 with footer stats, never
  * moved or rewritten.
  */
class ConvertSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("convert-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  test("plain parquet dir becomes a full-featured table in place") {
    val sp = spark; import sp.implicits._
    val dir = tempDirs("convert_flat") + "/data"
    (1 to 100).map(i => (i.toLong, s"v$i", i * 2L)).toDF("id", "v", "n")
      .repartition(3).write.parquet(dir)
    val before = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted.toSeq

    val t = DeltaLikeTable.convert(spark, dir)
    assert(t.version === 0L)
    assert(t.toDF.count() === 100)
    // files untouched: same names, no copies
    val after = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted.toSeq
    assert(after === before)
    // footer stats present → data skipping works on the converted table
    assert(t.log.snapshot().files.forall(_.minValues.nonEmpty))

    // immediately usable as a versioned table
    assert(t.delete("id <= 10") === 10)
    assert(t.toDF.count() === 90)
    assert(t.toDF(0).count() === 100) // v0 time-travels to the original

    // double conversion refused
    assert(intercept[IllegalArgumentException] {
      DeltaLikeTable.convert(spark, dir)
    }.getMessage.contains("already"))
  }

  test("hidden staging files are invisible to conversion, like plain Spark reads") {
    val sp = spark; import sp.implicits._
    val dir = tempDirs("convert_hidden") + "/data"
    (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.parquet(dir)
    // an aborted job's leftovers: dot-dir and underscore-dir parquet
    val stray = (11 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1)
    stray.write.parquet(s"$dir/.spark-staging-x")
    stray.write.parquet(s"$dir/_tmp")

    val t = DeltaLikeTable.convert(spark, dir)
    assert(t.toDF.count() === 10,
      "hidden-path parquet must not be registered as table data")
  }

  test("partitioned layout converts with directory-derived partition values") {
    val sp = spark; import sp.implicits._
    val dir = tempDirs("convert_part") + "/data"
    (1 to 60).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "k", "v")
      .write.partitionBy("k").parquet(dir)

    spark.sql(s"CONVERT TO DELTALIKE parquet.`$dir` PARTITIONED BY (k)")
    val t = DeltaLikeTable.forPath(spark, dir)
    assert(t.log.snapshot().partitionColumns === Seq("k"))
    assert(t.toDF.count() === 60)
    assert(t.toDF.where("k = 1").count() === 20)
    // partition-pruned reads through the format surface
    assert(spark.read.format("deltalike").load(dir).where("k = 2").count() === 20)
  }
}

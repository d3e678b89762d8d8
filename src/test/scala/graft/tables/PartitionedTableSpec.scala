package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Partitioned deltalike tables: hive-style directory layout, partition
  * columns reconstructed on read, partition pruning via the ordinary
  * data-skipping stats, merges preserving layout.
  */
class PartitionedTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("partitioned-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def df(n: Int) = {
    val sp = spark; import sp.implicits._
    (1 to n).map(i => (i.toLong, i % 4, s"v$i")).toDF("id", "bucket", "v")
  }

  test("partitioned write round-trips with reconstructed partition column") {
    val path = tempDirs("part_rt")
    DeltaLikeTable.write(df(400), path, partitionBy = Seq("bucket"))
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.log.snapshot().partitionColumns === Seq("bucket"))
    // hive-style layout on disk
    assert((0 to 3).forall(b => Files.isDirectory(Paths.get(path, s"bucket=$b"))))
    val back = t.toDF
    assert(back.columns.toSet === Set("id", "bucket", "v"))
    assert(back.count() === 400)
    assert(back.where(col("bucket") === 2).count() === 100)
    assert(back.groupBy("bucket").count().collect().map(_.getLong(1)).forall(_ == 100))
  }

  test("partition predicates prune files via stats") {
    val path = tempDirs("part_prune")
    DeltaLikeTable.write(df(400), path, partitionBy = Seq("bucket"))
    val snap = DeltaLog.forPath(path).snapshot()
    assert(snap.files.size >= 4)
    val pruned = DataSkipping.prune(snap, Seq(EqualTo("bucket", 2)))
    assert(pruned.nonEmpty)
    assert(pruned.forall(_.path.startsWith("bucket=2/")),
      s"pruning must keep only bucket=2 files: ${pruned.map(_.path)}")
    // and format-reader answers stay correct
    assert(spark.read.format("deltalike").load(path)
      .where(col("bucket") === 2).count() === 100)
  }

  test("partition values with escaped chars, spaces, dates, and nulls round-trip") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("part_esc")
    // '=' ':' '%' are Hive-%-escaped in directory names; spaces are not;
    // null becomes __HIVE_DEFAULT_PARTITION__
    val keys = Seq("a=b", "x:y", "p%q", "has space", null)
    val rows = keys.zipWithIndex.flatMap { case (k, i) =>
      (0 until 10).map(j => ((i * 10 + j).toLong, k, s"v$j"))
    }
    DeltaLikeTable.write(rows.toDF("id", "k", "v"), path, partitionBy = Seq("k"))
    val t = DeltaLikeTable.forPath(spark, path)

    // read-back reconstructs the exact values
    val got = t.toDF.select("k").distinct().collect().map(_.getString(0)).toSet
    assert(got === keys.toSet)
    assert(t.toDF.where($"k".isNull).count() === 10)

    // footer/path-derived stats prune correctly on the escaped values
    val snap = t.log.snapshot()
    keys.filter(_ != null).foreach { k =>
      val kept = DataSkipping.prune(snap, Seq(EqualTo("k", k)))
      assert(kept.size < snap.files.size, s"no pruning for key '$k'")
      assert(kept.nonEmpty, s"over-pruned for key '$k'")
      assert(t.toDF.where($"k" === k).count() === 10, s"wrong rows for '$k'")
    }
    // null partition: IsNotNull prunes the null file
    val notNull = DataSkipping.prune(snap,
      Seq(org.apache.spark.sql.sources.IsNotNull("k")))
    assert(notNull.size < snap.files.size)

    // date partition values encode as epoch days in stats
    val path2 = tempDirs("part_date")
    val d0 = java.sql.Date.valueOf("2024-03-01")
    val d1 = java.sql.Date.valueOf("2024-03-02")
    DeltaLikeTable.write(
      Seq((1L, d0), (2L, d0), (3L, d1)).toDF("id", "day").coalesce(1),
      path2, partitionBy = Seq("day"))
    val t2 = DeltaLikeTable.forPath(spark, path2)
    val keptDay = DataSkipping.prune(t2.log.snapshot(), Seq(EqualTo("day", d0)))
    assert(keptDay.size === 1)
    assert(t2.toDF.where($"day" === d0).count() === 2)
  }

  test("append inherits partitioning; mismatched repartitioning rejected") {
    val path = tempDirs("part_append")
    DeltaLikeTable.write(df(100), path, partitionBy = Seq("bucket"))
    DeltaLikeTable.write(df(40), path, "append") // inherits
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.toDF.count() === 140)
    assert(t.log.snapshot().partitionColumns === Seq("bucket"))
    intercept[IllegalArgumentException] {
      DeltaLikeTable.write(df(10), path, "append", partitionBy = Seq("v"))
    }
  }

  test("merge on a partitioned table preserves layout and values") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("part_merge")
    DeltaLikeTable.write(df(200), path, partitionBy = Seq("bucket"))
    val t = DeltaLikeTable.forPath(spark, path)
    val src = Seq((1L, 1, "UPDATED"), (9001L, 1, "NEW")).toDF("id", "bucket", "v")
    t.as("t").merge(src.as("s"), "t.id = s.id")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val out = t.toDF
    assert(out.count() === 201)
    assert(out.where("id = 1").select("v").head().getString(0) === "UPDATED")
    assert(out.where("id = 9001").select("bucket").head().getInt(0) === 1)
    // rewritten + inserted rows still live under partition dirs
    t.log.snapshot().files.foreach(f =>
      assert(f.path.startsWith("bucket="), s"unpartitioned file ${f.path}"))
    // time travel unaffected
    assert(t.toDF(0).where("id = 1").select("v").head().getString(0) === "v1")
  }

  test("optimize compacts within partitions") {
    val path = tempDirs("part_opt")
    DeltaLikeTable.write(df(100).repartition(8), path, partitionBy = Seq("bucket"))
    val t = DeltaLikeTable.forPath(spark, path)
    val before = t.log.snapshot().files.size
    t.optimize(targetFiles = 1)
    val after = t.log.snapshot().files
    assert(after.size < before)
    assert(after.forall(_.path.startsWith("bucket=")))
    assert(t.toDF.count() === 100)
  }
}

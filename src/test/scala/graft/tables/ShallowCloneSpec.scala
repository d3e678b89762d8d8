package graft.tables

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Shallow clone: zero-copy table fork via absolute-path AddFile
  * references, immediately independent for writes, localizable via
  * OPTIMIZE, and vacuum-safe toward the source.
  */
class ShallowCloneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("clone-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def parquetCount(dir: String): Int = {
    val d = new java.io.File(dir)
    if (!d.exists) 0
    else d.listFiles.count(f => f.getName.endsWith(".parquet"))
  }

  test("clone reads the source's data without copying a single byte") {
    val sp = spark; import sp.implicits._
    val src = tempDirs("clone_src")
    val dst = tempDirs("clone_dst") + "/t"
    DeltaLikeTable.write(
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), src)

    val clone = DeltaLikeTable.forPath(spark, src).shallowCloneTo(dst)
    assert(clone.toDF.count() === 100)
    assert(clone.toDF.where("v = 'v42'").count() === 1)
    assert(parquetCount(dst) === 0, "no data files may be copied")
    assert(clone.version === 0L)
  }

  test("clone and source diverge independently") {
    val sp = spark; import sp.implicits._
    val src = tempDirs("clone_div_src")
    val dst = tempDirs("clone_div_dst") + "/t"
    DeltaLikeTable.write(
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"), src)
    val source = DeltaLikeTable.forPath(spark, src)
    val clone = source.shallowCloneTo(dst)

    // write to the clone: source untouched
    DeltaLikeTable.write(
      Seq((51L, "new")).toDF("id", "v"), dst, mode = "append")
    assert(clone.toDF.count() === 51)
    assert(source.toDF.count() === 50)

    // delete on the clone rewrites the touched (source-referenced) file
    // INTO THE CLONE; the source still reads every row
    assert(clone.delete("id <= 10") === 10)
    assert(clone.toDF.count() === 41)
    assert(source.toDF.count() === 50, "source must not see the clone's delete")

    // and writes to the source don't leak into the clone
    DeltaLikeTable.write(Seq((99L, "srconly")).toDF("id", "v"), src, mode = "append")
    assert(clone.toDF.where("v = 'srconly'").count() === 0)
  }

  test("OPTIMIZE localizes the clone; its vacuum never touches source bytes") {
    val sp = spark; import sp.implicits._
    val src = tempDirs("clone_opt_src")
    val dst = tempDirs("clone_opt_dst") + "/t"
    DeltaLikeTable.write(
      (1 to 80).map(i => (i.toLong, s"v$i")).toDF("id", "v"), src)
    val source = DeltaLikeTable.forPath(spark, src)
    val clone = source.shallowCloneTo(dst)

    clone.optimize()
    val snap = clone.log.snapshot()
    assert(snap.files.forall(f => !DeltaLog.isAbsolute(f.path)),
      "after OPTIMIZE every active file must live in the clone root")
    assert(parquetCount(dst) > 0)
    assert(clone.toDF.count() === 80)

    // vacuum the clone past the referencing version: absolute refs are
    // skipped, the source keeps reading
    clone.vacuum(retainVersions = 1)
    assert(source.toDF.count() === 80, "clone vacuum must not delete source files")
    assert(clone.toDF.count() === 80)
  }

  test("SQL surface + guards: partitioned source and existing target refused") {
    val sp = spark; import sp.implicits._
    val src = tempDirs("clone_sql_src")
    val dst = tempDirs("clone_sql_dst") + "/t"
    DeltaLikeTable.write(
      (1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v"), src)
    spark.sql(s"CREATE TABLE deltalike.`$dst` SHALLOW CLONE deltalike.`$src`")
    assert(spark.sql(s"SELECT count(*) AS n FROM deltalike.`$dst`")
      .head().getLong(0) === 30)
    assert(intercept[IllegalArgumentException] {
      DeltaLikeTable.forPath(spark, src).shallowCloneTo(dst)
    }.getMessage.contains("already a table"))

    val psrc = tempDirs("clone_part_src")
    DeltaLikeTable.write(
      (1 to 30).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "p", "v"),
      psrc, partitionBy = Seq("p"))
    assert(intercept[IllegalArgumentException] {
      DeltaLikeTable.forPath(spark, psrc)
        .shallowCloneTo(tempDirs("clone_part_dst") + "/t")
    }.getMessage.contains("partitioned"))
  }

  test("deep clone is fully independent: vacuuming the source cannot break it") {
    val sp = spark; import sp.implicits._
    val src = tempDirs("dclone_src")
    val dst = tempDirs("dclone_dst") + "/t"
    DeltaLikeTable.write(
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), src)
    val srcT = DeltaLikeTable.forPath(spark, src)

    val clone = srcT.deepCloneTo(dst)
    assert(clone.toDF.count() === 100)
    assert(parquetCount(dst) > 0, "deep clone must copy the data files")
    assert(clone.log.snapshot().files.forall(f => !f.path.startsWith("/")),
      "deep clone stores relative paths, not references")
    // stats travel with the copy: skipping still works on the clone
    assert(clone.log.snapshot().files.forall(_.minValues.nonEmpty))

    // obliterate the source entirely; the clone must be unaffected
    DeltaLikeTable.write(Seq((0L, "z")).toDF("id", "v"), src, "overwrite")
    srcT.vacuum(1)
    assert(clone.toDF.count() === 100)
    assert(clone.toDF.where("v = 'v42'").count() === 1)
  }

  test("deep clone of a partitioned table keeps layout and pruning") {
    val sp = spark; import sp.implicits._
    val src = tempDirs("dclone_psrc")
    val dst = tempDirs("dclone_pdst") + "/t"
    DeltaLikeTable.write(
      (1 to 30).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "p", "v"),
      src, partitionBy = Seq("p"))
    val clone = DeltaLikeTable.forPath(spark, src).deepCloneTo(dst)
    assert(clone.log.snapshot().partitionColumns === Seq("p"))
    assert(clone.toDF.where("p = 1").count() === 10)
    assert(clone.toDF.count() === 30)
  }
}

package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Column mapping (Delta-style, name-based): RENAME/DROP COLUMN as
  * metadata-only commits — files keep their original column names
  * forever; the log maps logical → physical.
  */
class ColumnMappingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("colmap-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def tmp(prefix: String): String =
    tempDirs(prefix)

  test("RENAME COLUMN is metadata-only: same files, new name, old versions intact") {
    val sp = spark; import sp.implicits._
    val path = tmp("cm_rename")
    DeltaLikeTable.write(
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "payload"), path)
    val t = DeltaLikeTable.forPath(spark, path)
    val filesBefore = t.log.snapshot().files.map(_.path).toSet

    t.renameColumn("payload", "body")
    val snap = t.log.snapshot()
    assert(snap.files.map(_.path).toSet === filesBefore, "no data file rewritten")
    assert(snap.schema.fieldNames.toSeq === Seq("id", "body"))
    assert(snap.physicalName("body") === "payload")

    assert(t.toDF.where("body = 'v42'").count() === 1)
    assert(t.toDF.select("body").head().getString(0).startsWith("v"))
    // time travel: the pre-rename version still presents the old name
    assert(t.toDF(0).schema.fieldNames.toSeq === Seq("id", "payload"))
    assert(t.toDF(0).where("payload = 'v42'").count() === 1)
  }

  test("writes after a rename stage files under physical names; stats stay logical") {
    val sp = spark; import sp.implicits._
    val path = tmp("cm_write")
    DeltaLikeTable.write(
      (1 to 50).map(i => (i.toLong, i * 10L)).toDF("id", "amount"), path)
    val t = DeltaLikeTable.forPath(spark, path)
    t.renameColumn("amount", "value")

    DeltaLikeTable.write(
      (51 to 60).map(i => (i.toLong, i * 10L)).toDF("id", "value"), path,
      mode = "append")
    assert(t.toDF.count() === 60)
    assert(t.toDF.where("value = 550").count() === 1) // new file
    assert(t.toDF.where("value = 250").count() === 1) // old file

    val snap = t.log.snapshot()
    // the new file physically stores the ORIGINAL name (mapping is sticky)
    assert(snap.physicalName("value") === "amount")
    // AddFile stats are keyed by LOGICAL name on every file, so data
    // skipping needs no mapping awareness
    val newest = snap.files.maxBy(_.path)
    assert(newest.minValues.contains("value") || newest.minValues.isEmpty === false)
    assert(snap.files.forall(f => !f.minValues.contains("nonexistent")))

    // a full MERGE upsert through the mapped table: update one row,
    // insert one — the rewrite stages files under physical names
    t.as("t").merge(
      Seq((60L, 999L), (61L, 610L)).toDF("id", "value").as("s"), "t.id = s.id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    assert(t.toDF.count() === 61)
    assert(t.toDF.where("id = 60").select("value").head().getLong(0) === 999L)
    assert(t.toDF.where("id = 61").select("value").head().getLong(0) === 610L)
  }

  test("DROP COLUMN hides data; re-added name starts fresh (no resurrection)") {
    val sp = spark; import sp.implicits._
    val path = tmp("cm_drop")
    DeltaLikeTable.write(
      (1 to 20).map(i => (i.toLong, s"secret$i", i * 1.5)).toDF("id", "note", "score"),
      path)
    val t = DeltaLikeTable.forPath(spark, path)
    t.dropColumn("note")
    assert(t.toDF.schema.fieldNames.toSeq === Seq("id", "score"))
    assert(t.toDF.count() === 20)

    // re-add the same logical name via additive evolution: old bytes must
    // NOT come back — the re-added column is null for pre-existing rows
    DeltaLikeTable.write(
      Seq((21L, 99.0, "fresh")).toDF("id", "score", "note"), path,
      mode = "append", mergeSchema = true)
    val back = t.toDF
    assert(back.where("note IS NOT NULL").count() === 1)
    assert(back.where("note = 'fresh'").count() === 1)
    assert(back.where("id <= 20 AND note IS NOT NULL").count() === 0,
      "dropped column data must not resurrect")
    // time travel still sees the original column
    assert(t.toDF(0).where("note = 'secret7'").count() === 1)
  }

  test("rename guards: partition columns, existing names, constraint references") {
    val sp = spark; import sp.implicits._
    val path = tmp("cm_guard")
    DeltaLikeTable.write(
      (1 to 10).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "part", "v"),
      path, partitionBy = Seq("part"))
    val t = DeltaLikeTable.forPath(spark, path)
    assert(intercept[IllegalArgumentException](t.renameColumn("part", "p2"))
      .getMessage.contains("partition"))
    assert(intercept[IllegalArgumentException](t.renameColumn("id", "v"))
      .getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](t.dropColumn("part"))
      .getMessage.contains("partition"))

    t.addConstraint("v_nonnull", "v IS NOT NULL")
    assert(intercept[IllegalArgumentException](t.renameColumn("v", "w"))
      .getMessage.contains("constraint"))
    assert(intercept[IllegalArgumentException](t.dropColumn("v"))
      .getMessage.contains("constraint"))
    // unrelated rename still fine with a constraint present
    t.renameColumn("id", "ident")
    assert(t.toDF.where("ident = 5").count() === 1)
  }

  test("DELETE via deletion vectors and OPTIMIZE work across a rename") {
    val sp = spark; import sp.implicits._
    val path = tmp("cm_dv")
    DeltaLikeTable.write(
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "payload"), path,
      enableDeletionVectors = true)
    val t = DeltaLikeTable.forPath(spark, path)
    t.renameColumn("payload", "body")

    assert(t.delete("id <= 5") === 5) // DV path: logical predicate over mapped scan
    assert(t.toDF.count() === 95)
    assert(t.toDF.where("body = 'v3'").count() === 0)

    t.optimize() // compaction rewrites through the mapping
    assert(t.toDF.count() === 95)
    assert(t.toDF.where("body = 'v50'").count() === 1)
    val snap = t.log.snapshot()
    assert(snap.physicalName("body") === "payload")
  }
}

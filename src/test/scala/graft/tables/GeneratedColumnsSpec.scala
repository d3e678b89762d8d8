package graft.tables

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Generated columns (`GENERATED ALWAYS AS`): computed when missing,
  * validated when supplied, sticky across appends, guarded against
  * rename/drop of their inputs.
  */
class GeneratedColumnsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("gencol-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  test("missing generated column is computed; appends inherit the rule") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("gen_compute")
    DeltaLikeTable.write(
      (1 to 10).map(i => (i.toLong, i * 100L)).toDF("id", "amount_cents"),
      path, generatedColumns = Map("amount" -> "CAST(amount_cents AS DOUBLE) / 100.0"))
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.toDF.schema.fieldNames.contains("amount"))
    assert(t.toDF.where("id = 3").select("amount").head().getDouble(0) === 3.0)

    // append WITHOUT the column: computed from the sticky rule
    DeltaLikeTable.write(
      Seq((11L, 5000L)).toDF("id", "amount_cents"), path, mode = "append")
    assert(t.toDF.where("id = 11").select("amount").head().getDouble(0) === 50.0)
  }

  test("supplied values are validated against the expression") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("gen_validate")
    DeltaLikeTable.write(
      (1 to 5).map(i => (i.toLong, i * 100L)).toDF("id", "amount_cents"),
      path, generatedColumns = Map("amount" -> "CAST(amount_cents AS DOUBLE) / 100.0"))

    // consistent supplied values pass
    DeltaLikeTable.write(
      Seq((6L, 600L, 6.0)).toDF("id", "amount_cents", "amount"),
      path, mode = "append")
    assert(DeltaLikeTable.forPath(spark, path).toDF.count() === 6)

    // divergent supplied values are rejected before staging
    val e = intercept[IllegalArgumentException] {
      DeltaLikeTable.write(
        Seq((7L, 700L, 99.0)).toDF("id", "amount_cents", "amount"),
        path, mode = "append")
    }
    assert(e.getMessage.contains("differ from its expression"))
    assert(DeltaLikeTable.forPath(spark, path).toDF.count() === 6,
      "rejected write must leave no trace")
  }

  test("generated partition column: date derived from a timestamp") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("gen_part")
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2026-01-02 11:30:00")),
      (3L, java.sql.Timestamp.valueOf("2026-01-02 23:59:00")))
    DeltaLikeTable.write(
      rows.toDF("id", "ts"), path,
      partitionBy = Seq("day"),
      generatedColumns = Map("day" -> "CAST(ts AS DATE)"))
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.toDF.where("day = DATE'2026-01-02'").count() === 2)
    assert(t.log.snapshot().partitionColumns === Seq("day"))
  }

  test("guards: no generated-on-generated, no dangling refs, rename/drop protection") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("gen_guard")
    assert(intercept[IllegalArgumentException] {
      DeltaLikeTable.write(
        Seq((1L, 2L)).toDF("id", "v"), path,
        generatedColumns = Map("a" -> "v + 1", "b" -> "a + 1"))
    }.getMessage.contains("generated column"))

    assert(intercept[IllegalArgumentException] {
      DeltaLikeTable.write(
        Seq((1L, 2L)).toDF("id", "v"), tempDirs("gen_g2"),
        generatedColumns = Map("a" -> "missing_col + 1"))
    }.getMessage.contains("unknown column"))

    val p2 = tempDirs("gen_guard2")
    DeltaLikeTable.write(
      Seq((1L, 2L)).toDF("id", "v"), p2,
      generatedColumns = Map("doubled" -> "v * 2"))
    val t = DeltaLikeTable.forPath(spark, p2)
    assert(intercept[IllegalArgumentException](t.renameColumn("v", "w"))
      .getMessage.contains("computed from it"))
    assert(intercept[IllegalArgumentException](t.dropColumn("v"))
      .getMessage.contains("computed from it"))
    // dropping the generated column itself lifts the rule
    t.dropColumn("doubled")
    assert(t.log.snapshot().generatedColumns.isEmpty)
    DeltaLikeTable.write(Seq((2L, 3L)).toDF("id", "v"), p2,
      mode = "append", mergeSchema = true)
    assert(t.toDF.count() === 2)
  }

  test("UPDATE and MERGE keep the generated invariant (recompute, not drift)") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("gen_rewrite")
    DeltaLikeTable.write(
      Seq((1L, 2L), (2L, 5L)).toDF("id", "v"), path,
      generatedColumns = Map("doubled" -> "v * 2"))
    val t = DeltaLikeTable.forPath(spark, path)

    // UPDATE of an input recomputes the generated column
    t.update(org.apache.spark.sql.functions.expr("id = 1"),
      Map("v" -> org.apache.spark.sql.functions.lit(10L)))
    assert(t.toDF.where("id = 1").select("doubled").head().getLong(0) === 20L)

    // UPDATE directly on a generated column is rejected
    assert(intercept[IllegalArgumentException] {
      t.update(org.apache.spark.sql.functions.expr("id = 1"),
        Map("doubled" -> org.apache.spark.sql.functions.lit(999L)))
    }.getMessage.contains("recomputed"))

    // MERGE insert omitting the generated column computes it; update
    // clauses recompute it from the final input values
    t.as("t").merge(
      Seq((2L, 7L), (3L, 9L)).toDF("id", "v").as("s"), "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> org.apache.spark.sql.functions.expr("s.v")))
      .whenNotMatchedInsert(Map(
        "id" -> org.apache.spark.sql.functions.expr("s.id"),
        "v" -> org.apache.spark.sql.functions.expr("s.v")))
      .execute()
    val out = t.toDF.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out === Map(1L -> 20L, 2L -> 14L, 3L -> 18L),
      "every row must satisfy doubled = v * 2 after the merge")
  }

  test("append omitting a NON-last generated column still lands in order") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("gen_order")
    // create with columns (id, gen, v) — gen supplied, in the middle
    DeltaLikeTable.write(
      Seq((1L, 4L, 2L)).toDF("id", "gen", "v"), path,
      generatedColumns = Map("gen" -> "v * 2"))
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.toDF.schema.fieldNames.toSeq === Seq("id", "gen", "v"))
    // append WITHOUT gen: computed and reordered to the table layout
    DeltaLikeTable.write(Seq((2L, 3L)).toDF("id", "v"), path, mode = "append")
    assert(t.toDF.where("id = 2").select("gen").head().getLong(0) === 6L)
    assert(t.toDF.schema.fieldNames.toSeq === Seq("id", "gen", "v"))
  }

  test("MERGE schema evolution rejects untyped NULL source columns fast") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("gen_nulltype")
    DeltaLikeTable.write(Seq((1L, "a")).toDF("k", "v"), path)
    val t = DeltaLikeTable.forPath(spark, path)
    val src = Seq((1L, "A")).toDF("k", "v")
      .withColumn("tag", org.apache.spark.sql.functions.lit(null))
    val e = intercept[IllegalArgumentException] {
      t.as("t").merge(src.as("s"), "t.k = s.k")
        .whenMatchedUpdateAll().withSchemaEvolution().execute()
    }
    assert(e.getMessage.contains("untyped NULL"))
    assert(t.version === 0, "failed evolution must not commit")
  }
}

package graft.tables

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Property-style checks (SURVEY.md §5.4) of the merge algebra against
  * its set-theoretic definition, time-travel immutability under later
  * writes, and union cardinality — over seeded random target/source
  * pairs (deterministic reruns; the scalatest/scalacheck bridge is not
  * in the offline dependency set, so cases are generated directly).
  */
class MergePropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs
  private val Cases = 8

  override def beforeAll(): Unit = {
    spark = GraftSession.local("merge-props", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private val schema = StructType.fromDDL("k INT, v STRING")

  private def df(rows: Seq[(Int, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)

  private def collect(d: DataFrame): Set[(Int, String)] =
    d.collect().map(r => (r.getInt(0), r.getString(1))).toSet

  /** Random rows with unique keys (merge requires source-key uniqueness). */
  private def genRows(rnd: scala.util.Random, tag: String): Seq[(Int, String)] = {
    val n = 1 + rnd.nextInt(30)
    rnd.shuffle((0 to 50).toList).take(n).map(k => (k, s"$tag$k"))
  }

  test("merge(updateAll, insertAll) = (target − matched) ∪ source") {
    val rnd = new scala.util.Random(1001)
    (1 to Cases).foreach { i =>
      val target = genRows(rnd, "t")
      val source = genRows(rnd, "s")
      val path = tempDirs("prop_merge")
      DeltaLikeTable.write(df(target), path)
      val t = DeltaLikeTable.forPath(spark, path)
      t.as("t").merge(df(source).as("s"), "t.k = s.k")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      val got = collect(t.toDF)
      val srcKeys = source.map(_._1).toSet
      val want = target.filterNot(r => srcKeys.contains(r._1)).toSet ++ source.toSet
      assert(got === want, s"case $i: target=$target source=$source")
      DeltaLikeTable.deleteRecursively(java.nio.file.Paths.get(path))
    }
  }

  test("merge(delete) = target − matched; one version per merge") {
    val rnd = new scala.util.Random(2002)
    (1 to Cases).foreach { i =>
      val target = genRows(rnd, "t")
      val source = genRows(rnd, "s")
      val path = tempDirs("prop_del")
      DeltaLikeTable.write(df(target), path)
      val t = DeltaLikeTable.forPath(spark, path)
      t.as("t").merge(df(source).as("s"), "t.k = s.k")
        .whenMatchedDelete().execute()
      val srcKeys = source.map(_._1).toSet
      assert(collect(t.toDF) === target.filterNot(r => srcKeys.contains(r._1)).toSet,
        s"case $i")
      assert(t.version === 1)
      DeltaLikeTable.deleteRecursively(java.nio.file.Paths.get(path))
    }
  }

  test("full sync merge = source, exactly (random target/source pairs)") {
    val rnd = new scala.util.Random(5005)
    (1 to Cases).foreach { i =>
      val target = genRows(rnd, "t")
      val source = genRows(rnd, "s")
      val path = tempDirs("prop_sync")
      DeltaLikeTable.write(df(target), path)
      val t = DeltaLikeTable.forPath(spark, path)
      t.as("t").merge(df(source).as("s"), "t.k = s.k")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll()
        .whenNotMatchedBySourceDelete().execute()
      assert(collect(t.toDF) === source.toSet,
        s"case $i: mirror must equal source; target=$target source=$source")
      DeltaLikeTable.deleteRecursively(java.nio.file.Paths.get(path))
    }
  }

  test("conditional by-source update = f(target − matched) (random pairs)") {
    val rnd = new scala.util.Random(6006)
    (1 to Cases).foreach { i =>
      val target = genRows(rnd, "t")
      val source = genRows(rnd, "s")
      val path = tempDirs("prop_bysrc")
      DeltaLikeTable.write(df(target), path)
      val t = DeltaLikeTable.forPath(spark, path)
      t.as("t").merge(df(source).as("s"), "t.k = s.k")
        .whenNotMatchedBySourceUpdate(
          org.apache.spark.sql.functions.expr("t.k % 2 = 0"),
          Map("v" -> org.apache.spark.sql.functions.lit("stale")))
        .execute()
      val srcKeys = source.map(_._1).toSet
      val want = target.map { case (k, v) =>
        if (!srcKeys.contains(k) && k % 2 == 0) (k, "stale") else (k, v)
      }.toSet
      assert(collect(t.toDF) === want, s"case $i: target=$target source=$source")
      DeltaLikeTable.deleteRecursively(java.nio.file.Paths.get(path))
    }
  }

  test("time travel: read(v0) immutable under later append + merge") {
    val rnd = new scala.util.Random(3003)
    (1 to Cases).foreach { i =>
      val v0 = genRows(rnd, "a")
      val v1 = genRows(rnd, "b")
      val src = genRows(rnd, "c")
      val path = tempDirs("prop_tt")
      DeltaLikeTable.write(df(v0), path)
      val t = DeltaLikeTable.forPath(spark, path)
      val before = collect(t.toDF(0))
      DeltaLikeTable.write(df(v1), path, "append")
      t.as("t").merge(df(src).as("s"), "t.k = s.k")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      assert(collect(t.toDF(0)) === before, s"case $i")
      assert(before === v0.toSet)
      DeltaLikeTable.deleteRecursively(java.nio.file.Paths.get(path))
    }
  }

  test("union: row counts add (bag semantics)") {
    val rnd = new scala.util.Random(4004)
    (1 to Cases).foreach { _ =>
      val a = genRows(rnd, "x")
      val b = genRows(rnd, "y")
      assert(df(a).union(df(b)).count() === a.size + b.size)
    }
  }

  test("withSchemaEvolution appends source-only columns through a merge") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("merge_evolve")
    DeltaLikeTable.write(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), path)
    val t = DeltaLikeTable.forPath(spark, path)

    // source carries an extra column `score`
    val src = Seq((2L, "B", 20.0), (4L, "D", 40.0)).toDF("k", "v", "score")
    t.as("t").merge(src.as("s"), "t.k = s.k")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .withSchemaEvolution()
      .execute()

    val out = t.toDF
    assert(out.schema.fieldNames.toSeq === Seq("k", "v", "score"))
    val byK = out.collect().map(r => r.getLong(0) ->
      (r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(byK(1L) === (("a", None)), "untouched row reads null for the new column")
    assert(byK(2L) === (("B", Some(20.0))))
    assert(byK(4L) === (("D", Some(40.0))))
    // pre-merge version still presents the old schema
    assert(t.toDF(0).schema.fieldNames.toSeq === Seq("k", "v"))

    // WITHOUT evolution, the same merge ignores the extra column
    val path2 = tempDirs("merge_noevo")
    DeltaLikeTable.write(Seq((1L, "a")).toDF("k", "v"), path2)
    val t2 = DeltaLikeTable.forPath(spark, path2)
    t2.as("t").merge(
      Seq((1L, "A", 9.9)).toDF("k", "v", "score").as("s"), "t.k = s.k")
      .whenMatchedUpdateAll().execute()
    assert(t2.toDF.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(t2.toDF.head().getString(1) === "A")
  }

  test("schema evolution composes with column mapping (fresh physical names)") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("merge_evo_map")
    DeltaLikeTable.write(Seq((1L, "a")).toDF("k", "v"), path)
    val t = DeltaLikeTable.forPath(spark, path)
    t.renameColumn("v", "label") // materializes the mapping
    t.as("t").merge(
      Seq((1L, "A", 7L)).toDF("k", "label", "extra").as("s"), "t.k = s.k")
      .whenMatchedUpdateAll()
      .withSchemaEvolution()
      .execute()
    val snap = t.log.snapshot()
    assert(snap.schema.fieldNames.toSeq === Seq("k", "label", "extra"))
    assert(snap.physicalName("extra") !== "extra",
      "evolved column must get a fresh physical name under mapping")
    assert(t.toDF.head().getLong(2) === 7L)
  }
}

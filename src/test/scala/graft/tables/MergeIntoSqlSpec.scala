package graft.tables

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** SQL `MERGE INTO deltalike.`path`` through the injected resolution
  * rule — same semantics as the builder API, driven from SQL text.
  */
class MergeIntoSqlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("merge-sql-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def fresh(): String = {
    val sp = spark; import sp.implicits._
    val path = tempDirs("mergesql")
    DeltaLikeTable.write(
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "n"),
      path)
    path
  }

  test("MERGE INTO ... UPDATE SET * / INSERT * via SQL") {
    val sp = spark; import sp.implicits._
    val path = fresh()
    Seq((2L, "B", 200), (9L, "Z", 900)).toDF("k", "v", "n")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO deltalike.`$path` AS t
         |USING merge_src AS s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = DeltaLikeTable.forPath(spark, path).toDF
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(out === Seq((1L, "a", 10), (2L, "B", 200), (3L, "c", 30), (9L, "Z", 900)))
  }

  test("MERGE INTO with conditional update, explicit assignments, and delete") {
    val sp = spark; import sp.implicits._
    val path = fresh()
    Seq((1L, "A", 100), (2L, "B", 200), (3L, "C", 300)).toDF("k", "v", "n")
      .createOrReplaceTempView("merge_src2")
    spark.sql(
      s"""MERGE INTO deltalike.`$path` AS t
         |USING merge_src2 AS s
         |ON t.k = s.k
         |WHEN MATCHED AND s.n >= 300 THEN DELETE
         |WHEN MATCHED AND s.n >= 200 THEN UPDATE SET v = s.v
         |WHEN MATCHED THEN UPDATE SET n = t.n + s.n""".stripMargin)
    val out = DeltaLikeTable.forPath(spark, path).toDF
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(out === Seq(
      (1L, "a", 110),  // third clause: n = 10 + 100, v untouched
      (2L, "B", 20)))  // second clause: v updated, n untouched; k=3 deleted
  }

  test("MERGE INTO with INSERT column list and source subquery") {
    val sp = spark; import sp.implicits._
    val path = fresh()
    spark.sql(
      s"""MERGE INTO deltalike.`$path` AS t
         |USING (SELECT 7 AS k, 'seven' AS v, 70 AS n) AS s
         |ON t.k = s.k
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val out = DeltaLikeTable.forPath(spark, path).toDF
      .where("k = 7").collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2))))
    assert(out.toSeq === Seq((7L, "seven", None))) // n not assigned → null
  }

  test("SQL reads: SELECT from deltalike path, with @vN time travel") {
    val sp = spark; import sp.implicits._
    val path = fresh()
    Seq((9L, "z", 90)).toDF("k", "v", "n")
      .write.format("deltalike").mode("append").save(path)
    assert(spark.sql(s"SELECT count(*) AS n FROM deltalike.`$path`")
      .head().getLong(0) === 4)
    assert(spark.sql(s"SELECT count(*) AS n FROM deltalike.`$path@v0`")
      .head().getLong(0) === 3)
    val agg = spark.sql(
      s"SELECT sum(n) AS s FROM deltalike.`$path` WHERE k <= 2").head().getLong(0)
    assert(agg === 30)
  }

  test("SQL reads: VERSION AS OF / TIMESTAMP AS OF temporal grammar") {
    val sp = spark; import sp.implicits._
    val path = fresh()
    Seq((9L, "z", 90)).toDF("k", "v", "n")
      .write.format("deltalike").mode("append").save(path)
    // VERSION AS OF matches the versionAsOf API read
    val sqlV0 = spark.sql(s"SELECT * FROM deltalike.`$path` VERSION AS OF 0")
      .orderBy("k").collect().toSeq
    val apiV0 = spark.read.format("deltalike").option("versionAsOf", "0")
      .load(path).orderBy("k").collect().toSeq
    assert(sqlV0 === apiV0 && sqlV0.size === 3)
    assert(spark.sql(s"SELECT count(*) AS n FROM deltalike.`$path` VERSION AS OF 1")
      .head().getLong(0) === 4)
    // TIMESTAMP AS OF at v1's commit time sees v1
    val t = DeltaLikeTable.forPath(spark, path)
    val ts1Ms = t.log.history()
      .collectFirst { case (1L, Some(ci)) => ci.timestampMs }.get
    val ts1 = java.time.Instant.ofEpochMilli(ts1Ms).toString
    assert(spark.sql(
      s"SELECT count(*) AS n FROM deltalike.`$path` TIMESTAMP AS OF '$ts1'")
      .head().getLong(0) === 4)
  }

  test("CREATE TABLE ... AS SELECT: plain, partitioned, from deltalike, IF NOT EXISTS") {
    val path = fresh()
    val ctas = tempDirs("ctas") + "/t"
    spark.sql(s"CREATE TABLE deltalike.`$ctas` AS " +
      s"SELECT k, v, n * 10 AS n10 FROM deltalike.`$path` WHERE k <= 2")
    val t = DeltaLikeTable.forPath(spark, ctas)
    assert(t.version === 0)
    assert(t.toDF.orderBy("k").collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      === Seq((1L, 100), (2L, 200)))
    // duplicate create refused; IF NOT EXISTS is a no-op
    intercept[IllegalStateException] {
      spark.sql(s"CREATE TABLE deltalike.`$ctas` AS SELECT 1 AS x")
    }
    spark.sql(s"CREATE TABLE IF NOT EXISTS deltalike.`$ctas` AS SELECT 1 AS x")
    assert(t.toDF.count() === 2)

    // partitioned CTAS lays out partition directories
    val part = tempDirs("ctasp") + "/t"
    spark.sql(s"CREATE TABLE deltalike.`$part` PARTITIONED BY (v) AS " +
      s"SELECT k, v, n FROM deltalike.`$path`")
    val tp = DeltaLikeTable.forPath(spark, part)
    assert(tp.log.snapshot().partitionColumns === Seq("v"))
    assert(tp.toDF.count() === 3)
    assert(spark.sql(s"SELECT count(*) AS n FROM deltalike.`$part` WHERE v = 'a'")
      .head().getLong(0) === 1)
  }

  test("SQL INSERT INTO appends; INSERT OVERWRITE replaces") {
    val path = fresh()
    spark.sql(s"INSERT INTO deltalike.`$path` VALUES (10, 'j', 100)")
    assert(spark.sql(s"SELECT count(*) AS n FROM deltalike.`$path`")
      .head().getLong(0) === 4)
    spark.sql(s"INSERT OVERWRITE deltalike.`$path` SELECT k, v, n " +
      s"FROM deltalike.`$path@v0` WHERE k = 1")
    assert(spark.sql(s"SELECT count(*) AS n FROM deltalike.`$path`")
      .head().getLong(0) === 1)
    // all versions preserved
    assert(DeltaLikeTable.forPath(spark, path).version === 2)
  }

  test("SQL DELETE FROM and UPDATE on deltalike paths") {
    val path = fresh()
    spark.sql(s"DELETE FROM deltalike.`$path` AS t WHERE t.n >= 30")
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.toDF.orderBy("k").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(t.history().map(_._2).contains("DELETE"))

    spark.sql(s"UPDATE deltalike.`$path` AS t SET t.v = upper(t.v), n = n * 10 " +
      "WHERE t.k = 2")
    val rows = t.toDF.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows === Seq((1L, "a", 10), (2L, "B", 200)))
    assert(t.history().map(_._2).contains("UPDATE"))

    // unconditional forms
    spark.sql(s"UPDATE deltalike.`$path` SET n = 0")
    assert(t.toDF.select(org.apache.spark.sql.functions.sum_distinct(
      org.apache.spark.sql.functions.col("n"))).head().getLong(0) === 0L)
    spark.sql(s"DELETE FROM deltalike.`$path`")
    assert(t.toDF.count() === 0)
    // time travel still sees pre-delete data
    assert(t.toDF(t.version - 1).count() === 2)
  }

  test("MERGE ... NOT MATCHED BY SOURCE DELETE makes the target mirror the source") {
    val sp = spark; import sp.implicits._
    val path = fresh() // (1,a,10) (2,b,20) (3,c,30)
    Seq((2L, "B", 200), (9L, "Z", 900)).toDF("k", "v", "n")
      .createOrReplaceTempView("merge_src3")
    spark.sql(
      s"""MERGE INTO deltalike.`$path` AS t
         |USING merge_src3 AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val out = DeltaLikeTable.forPath(spark, path).toDF
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(out === Seq((2L, "B", 200), (9L, "Z", 900)))
  }

  test("MERGE ... NOT MATCHED BY SOURCE conditional UPDATE touches only accepted rows") {
    val sp = spark; import sp.implicits._
    val path = fresh() // (1,a,10) (2,b,20) (3,c,30)
    Seq((1L, "A", 100)).toDF("k", "v", "n")
      .createOrReplaceTempView("merge_src4")
    spark.sql(
      s"""MERGE INTO deltalike.`$path` AS t
         |USING merge_src4 AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE AND t.n >= 30 THEN UPDATE SET v = 'stale'
         |WHEN NOT MATCHED BY SOURCE AND t.n >= 20 THEN DELETE""".stripMargin)
    val out = DeltaLikeTable.forPath(spark, path).toDF
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    // k=1 matched-updated; k=2 deleted (second clause); k=3 marked stale
    // (first clause wins in declaration order)
    assert(out === Seq((1L, "A", 100), (3L, "stale", 30)))
  }

  test("by-source clauses prune: files with no accepted unmatched row survive") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("mergesql")
    DeltaLikeTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), path)
    DeltaLikeTable.write(
      Seq((3L, "c"), (4L, "d")).toDF("k", "v").coalesce(1), path, "append")
    val t = DeltaLikeTable.forPath(spark, path)
    val before = t.log.snapshot().files.map(_.path).toSet
    assert(before.size === 2)
    Seq((1L, "A")).toDF("k", "v").createOrReplaceTempView("merge_src5")
    // unmatched rows are 2,3,4; only k=2 passes the by-source gate, so
    // the appended file (3,4) must NOT be rewritten
    spark.sql(
      s"""MERGE INTO deltalike.`$path` AS t
         |USING merge_src5 AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE AND t.k = 2 THEN DELETE""".stripMargin)
    val after = t.log.snapshot().files.map(_.path).toSet
    assert(after.intersect(before).size === 1, "untouched file must be retained")
    val out = t.toDF.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out === Seq((1L, "A"), (3L, "c"), (4L, "d")))
  }

  test("SQL DDL/maintenance: constraints, OPTIMIZE, VACUUM, RESTORE") {
    val path = fresh() // v0: (1,a,10) (2,b,20) (3,c,30)
    val t = DeltaLikeTable.forPath(spark, path)

    spark.sql(s"ALTER TABLE deltalike.`$path` ADD CONSTRAINT positive CHECK (n > 0)")
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"UPDATE deltalike.`$path` SET n = -1 WHERE k = 2")
    }
    assert(e.getMessage.contains("positive"))
    spark.sql(s"ALTER TABLE deltalike.`$path` DROP CONSTRAINT positive")
    spark.sql(s"UPDATE deltalike.`$path` SET n = -1 WHERE k = 2") // now allowed

    spark.sql(s"OPTIMIZE deltalike.`$path`")
    assert(t.log.snapshot().files.size === 1)
    assert(t.toDF.count() === 3)

    spark.sql(s"RESTORE TABLE deltalike.`$path` TO VERSION AS OF 0")
    assert(t.toDF.where("k = 2").select("n").head().getInt(0) === 20)
    assert(t.history().exists(_._2.startsWith("RESTORE VERSION AS OF 0")))

    spark.sql(s"VACUUM deltalike.`$path` RETAIN 1 VERSIONS")
    assert(t.toDF.count() === 3) // head still reads after cleanup

    // a non-graft statement still parses through the delegate
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) === 2)
  }

  test("SQL DDL: RENAME/DROP COLUMN and DESCRIBE HISTORY") {
    val path = fresh()
    spark.sql(s"ALTER TABLE deltalike.`$path` RENAME COLUMN v TO label")
    assert(spark.sql(s"SELECT label FROM deltalike.`$path` WHERE k = 2")
      .head().getString(0) === "b")

    spark.sql(s"ALTER TABLE deltalike.`$path` DROP COLUMN n")
    val cols = spark.sql(s"SELECT * FROM deltalike.`$path`").schema.fieldNames.toSeq
    assert(cols === Seq("k", "label"))

    // ADD COLUMN: metadata-only; old rows read null; appends may fill it
    spark.sql(s"ALTER TABLE deltalike.`$path` ADD COLUMN score DOUBLE")
    val withScore = spark.sql(s"SELECT * FROM deltalike.`$path`")
    assert(withScore.schema.fieldNames.toSeq === Seq("k", "label", "score"))
    assert(withScore.where("score IS NOT NULL").count() === 0)
    // under the active column mapping the new column got a fresh
    // physical name (no resurrection of dropped bytes)
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.log.snapshot().physicalName("score") !== "score")
    assert(intercept[IllegalArgumentException] {
      t.addColumn("score", "INT")
    }.getMessage.contains("already exists"))

    val hist = spark.sql(s"DESCRIBE HISTORY deltalike.`$path`").collect()
    assert(hist.length === 4) // write, rename, drop, add — newest first
    assert(hist.head.getAs[String]("operation") === "ADD COLUMN score")
    assert(hist.last.getAs[Long]("version") === 0L)
    assert(hist.map(_.getAs[String]("operation"))
      .contains("RENAME COLUMN v TO label"))

    val det = spark.sql(s"DESCRIBE DETAIL deltalike.`$path`").collect()
    assert(det.length === 1)
    assert(det.head.getAs[Long]("version") === 3L)
    assert(det.head.getAs[Long]("num_records") === 3L)
    assert(det.head.getAs[Boolean]("column_mapping") === true)
  }

  test("SQL ALTER COLUMN TYPE widens metadata-only; old files promote at scan") {
    val path = fresh() // n is INT
    spark.sql(s"ALTER TABLE deltalike.`$path` ALTER COLUMN n TYPE BIGINT")
    val t = DeltaLikeTable.forPath(spark, path)
    val widened = spark.sql(s"SELECT n FROM deltalike.`$path` WHERE k = 2")
    assert(widened.schema.head.dataType === org.apache.spark.sql.types.LongType)
    assert(widened.head().getLong(0) === 20L)
    // appends write the wide type; pre-widen files still read
    val sp = spark; import sp.implicits._
    DeltaLikeTable.write(
      Seq((9L, "z", 3000000000L)).toDF("k", "v", "n"), path, "append")
    assert(t.toDF.where("n > 2000000000").count() === 1)
    assert(t.toDF.count() === 4)
    assert(intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE deltalike.`$path` ALTER COLUMN n TYPE INT")
    }.getMessage.contains("widening"))
    assert(intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE deltalike.`$path` ALTER COLUMN v TYPE BIGINT")
    }.getMessage.contains("widening"))
  }

  test("SQL change-feed reads and MERGE WITH SCHEMA EVOLUTION") {
    val sp = spark; import sp.implicits._
    val path = fresh() // v0: (1,a,10) (2,b,20) (3,c,30)
    spark.sql(s"DELETE FROM deltalike.`$path` WHERE k = 3") // v1

    val changes = spark.sql(s"SELECT * FROM deltalike_cdf.`$path`")
    // v0 inserts (3 rows) + v1 delete (1 row)
    assert(changes.count() === 4)
    assert(changes.where("_change_type = 'delete' AND k = 3").count() === 1)
    val since = spark.sql(s"SELECT * FROM deltalike_cdf.`$path@v0`").collect()
    assert(since.map(_.getAs[String]("_change_type")).toSeq === Seq("delete"))

    // MERGE with an extra source column evolves the schema through SQL
    Seq((2L, "B2", 20, 99.5), (9L, "i", 90, 1.25))
      .toDF("k", "v", "n", "score").createOrReplaceTempView("evo_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO deltalike.`$path` AS t
         |USING evo_src AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = spark.sql(s"SELECT * FROM deltalike.`$path`")
    assert(out.schema.fieldNames.toSeq === Seq("k", "v", "n", "score"))
    assert(out.where("k = 1 AND score IS NULL").count() === 1)
    assert(out.where("k = 9 AND score = 1.25").count() === 1)
  }
}

package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Versioned-table semantics: the observable contract of the reference's
  * Delta usage (SURVEY.md §2.B, §3.E2) — overwrite→v0, merge→v1 with
  * update/insert/carry-over, time travel, manifest — plus the edge cases
  * the reference never hits (multi-match error, null keys, empty source,
  * append, schema rejection, delete clause).
  */
class DeltaLikeTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("deltalike-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def tmpTable(): String =
    tempDirs("deltalike")

  /** Titanic-shaped frame per the reference's DDL
    * (`/root/reference/sparkcode/titanic_example_delta.py:18`).
    */
  private def titanic(n: Int): DataFrame = {
    val schema = StructType.fromDDL(
      "PassengerId INT, Survived INT, Pclass INT, Name STRING, Sex STRING, " +
        "Age DOUBLE, SibSp INT, Parch INT, Ticket STRING, Fare DOUBLE, " +
        "Cabin STRING, Embarked STRING")
    val rows = (1 to n).map { i =>
      Row(i, i % 2, 1 + i % 3, s"Passenger $i", if (i % 2 == 0) "male" else "female",
        if (i % 7 == 0) null else 20.0 + i % 40, i % 3, i % 2,
        s"T$i", 10.0 + i, if (i % 5 == 0) null else s"C$i",
        if (i % 11 == 0) null else "S")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  test("reference replay: overwrite v0, merge v1, time travel, manifest") {
    val path = tmpTable()
    val base = titanic(891)
    DeltaLikeTable.write(base, path, "overwrite") // :25 → v0

    // :28-35 — build the upsert source
    val updated = base.where("PassengerId IN (1, 5)")
      .withColumn("Survived", lit(1))
    val schema = base.schema
    val newRows = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(892, 1, 1, "Teste A", "male", 35.0, 0, 0, null, null, null, null),
        Row(893, 1, 1, "Teste B", "female", 25.0, 1, 1, null, null, null, null)),
      schema)
    val source = updated.union(newRows)

    // :38-51 — MERGE
    val table = DeltaLikeTable.forPath(spark, path)
    table.as("old")
      .merge(source.as("new"), "old.PassengerId = new.PassengerId")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()

    assert(table.version === 1)

    // :56-61 — latest: updates applied, inserts present, rest carried over
    val latest = table.toDF
    assert(latest.count() === 893)
    val survived15 = latest.where("PassengerId IN (1, 5)")
      .select("Survived").collect().map(_.getInt(0)).toSeq
    assert(survived15 === Seq(1, 1))
    assert(latest.where("PassengerId > 891").count() === 2)
    // untouched row keeps original value
    val r10 = latest.where("PassengerId = 10").select("Survived").head().getInt(0)
    assert(r10 === 0)

    // :64-70 — time travel to v0
    val v0 = table.toDF(0)
    assert(v0.count() === 891)
    assert(v0.where("PassengerId = 1").select("Survived").head().getInt(0) === 1)
    assert(v0.where("PassengerId = 5").select("Survived").head().getInt(0) === 1)
    assert(v0.where("PassengerId > 891").count() === 0)
    // v0's Survived follows the generator (i % 2), not the merge
    assert(v0.where("PassengerId = 2").select("Survived").head().getInt(0) === 0)

    // :72 — manifest
    table.generate("symlink_format_manifest")
    val manifest = java.nio.file.Paths.get(path, "_symlink_format_manifest", "manifest")
    assert(Files.exists(manifest))
    val listed = Files.readAllLines(manifest)
    assert(listed.size > 0)
    listed.forEach(l => assert(Files.exists(java.nio.file.Paths.get(l))))

    // history records both operations
    val hist = table.history()
    assert(hist.map(_._1) === Seq(0L, 1L))
    assert(hist.map(_._2) === Seq("WRITE", "MERGE"))
  }

  test("merge multi-match raises cardinality error") {
    val path = tmpTable()
    DeltaLikeTable.write(titanic(20), path)
    val dupSource = titanic(20).where("PassengerId = 3")
      .union(titanic(20).where("PassengerId = 3"))
    val t = DeltaLikeTable.forPath(spark, path)
    val e = intercept[IllegalStateException] {
      t.as("t").merge(dupSource.as("s"), "t.PassengerId = s.PassengerId")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    }
    assert(e.getMessage.contains("cardinality"))
    assert(t.version === 0) // failed merge committed nothing
  }

  test("merge with null keys: null never matches, inserts instead") {
    val path = tmpTable()
    val schema = StructType.fromDDL("k INT, v STRING")
    def df(rows: Row*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    DeltaLikeTable.write(df(Row(1, "a"), Row(null, "t-null")), path)
    val t = DeltaLikeTable.forPath(spark, path)
    t.as("t").merge(df(Row(1, "A"), Row(null, "s-null")).as("s"), "t.k = s.k")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val out = t.toDF.orderBy("v").collect().map(r => (r.get(0), r.getString(1))).toSeq
    // t-null kept (never matched), s-null inserted, k=1 updated
    assert(out === Seq((1, "A"), (null, "s-null"), (null, "t-null")))
  }

  test("merge empty source is a no-op version with all rows kept") {
    val path = tmpTable()
    DeltaLikeTable.write(titanic(50), path)
    val t = DeltaLikeTable.forPath(spark, path)
    t.as("t").merge(titanic(50).where("PassengerId < 0").as("s"),
        "t.PassengerId = s.PassengerId")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(t.toDF.count() === 50)
  }

  test("merge delete clause removes matched rows") {
    val path = tmpTable()
    DeltaLikeTable.write(titanic(30), path)
    val t = DeltaLikeTable.forPath(spark, path)
    t.as("t").merge(titanic(30).where("PassengerId <= 10").as("s"),
        "t.PassengerId = s.PassengerId")
      .whenMatchedDelete()
      .execute()
    assert(t.toDF.count() === 20)
    assert(t.toDF.where("PassengerId <= 10").count() === 0)
  }

  test("conditional update + insert maps") {
    val path = tmpTable()
    val schema = StructType.fromDDL("k INT, v STRING, n INT")
    def df(rows: Row*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    DeltaLikeTable.write(df(Row(1, "a", 10), Row(2, "b", 20), Row(3, "c", 30)), path)
    val t = DeltaLikeTable.forPath(spark, path)
    val src = df(Row(1, "A", 100), Row(2, "B", 200), Row(9, "Z", 900)).as("s")
    t.as("t").merge(src, "t.k = s.k")
      .whenMatchedUpdate(expr("s.n > 150"), Map("v" -> expr("s.v")))
      .whenNotMatchedInsert(Map("k" -> expr("s.k"), "v" -> lit("ins")))
      .execute()
    val out = t.toDF.orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.get(2)))).toSeq
    assert(out === Seq(
      (1, "a", Some(10)),   // matched but condition false → untouched
      (2, "B", Some(20)),   // matched, condition true → v updated, n kept
      (3, "c", Some(30)),   // never matched → carried over
      (9, "ins", None)))    // insert map: n defaulted to null
  }

  test("append mode adds rows; overwrite replaces; schema change rejected") {
    val path = tmpTable()
    DeltaLikeTable.write(titanic(10), path, "overwrite")
    DeltaLikeTable.write(titanic(5), path, "append")
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.toDF.count() === 15)
    assert(t.toDF(0).count() === 10)
    DeltaLikeTable.write(titanic(7), path, "overwrite")
    assert(t.toDF.count() === 7)
    assert(t.toDF(1).count() === 15) // old versions still readable
    val bad = titanic(3).withColumn("Extra", lit(1))
    val e = intercept[IllegalArgumentException] {
      DeltaLikeTable.write(bad, path, "append")
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("DELETE removes matching rows only from touched files; UPDATE rewrites in place") {
    val path = tmpTable()
    // two files so touched-file pruning is observable
    DeltaLikeTable.write(titanic(10), path, "overwrite")
    DeltaLikeTable.write(titanic(20).where(col("PassengerId") > 10), path, "append")
    val t = DeltaLikeTable.forPath(spark, path)
    val v1Files = t.log.snapshot().files.map(_.path).toSet

    // DELETE hits only the second file (ids 11..20)
    val deleted = t.delete(col("PassengerId") >= 15)
    assert(deleted === 6)
    assert(t.toDF.count() === 14)
    assert(t.toDF.where(col("PassengerId") >= 15).count() === 0)
    val v2 = t.log.snapshot()
    // the untouched first file must survive the rewrite verbatim
    assert(v2.files.map(_.path).toSet.intersect(v1Files).nonEmpty)
    // history records the operation; the old version still reads whole
    assert(t.history().map(_._2).contains("DELETE"))
    assert(t.toDF(1).count() === 20)

    // null-condition rows are kept (SQL semantics: null is not true)
    val withNullAge = t.delete(col("Age") > lit(1000))
    assert(withNullAge === 0L)
    assert(t.log.latestVersion === v2.version) // no-op: no new version

    // UPDATE rewrites matching rows, passes the rest through
    val before = t.toDF.where(col("PassengerId") === 3)
      .select("Fare").head().getDouble(0)
    t.update(col("PassengerId") === 3, Map("Fare" -> lit(999.5)))
    assert(t.toDF.where(col("PassengerId") === 3)
      .select("Fare").head().getDouble(0) === 999.5)
    assert(t.toDF.where(col("Fare") === before && col("PassengerId") === 3).count() === 0)
    assert(t.toDF.count() === 14) // row count unchanged
    assert(t.history().map(_._2).contains("UPDATE"))

    // UPDATE validates assignments
    intercept[IllegalArgumentException] {
      t.update(lit(true), Map("NoSuchCol" -> lit(1)))
    }
  }

  test("mergeSchema evolves the table: adds columns, nulls across, rejects type changes") {
    val path = tmpTable()
    DeltaLikeTable.write(titanic(10), path, "overwrite")

    // evolved append: one new column
    val evolved = titanic(5)
      .withColumn("PassengerId", col("PassengerId") + 100)
      .withColumn("Deck", concat(lit("D"), col("Pclass")))
    DeltaLikeTable.write(evolved, path, "append", mergeSchema = true)

    val t = DeltaLikeTable.forPath(spark, path)
    val df = t.toDF
    assert(df.columns.last === "Deck") // new columns append at the end
    assert(df.count() === 15)
    // old rows read null for the new column; evolved rows carry it
    assert(df.where(col("Deck").isNull).count() === 10)
    assert(df.where(col("PassengerId") > 100 && col("Deck").startsWith("D")).count() === 5)
    // time travel still shows the pre-evolution schema
    assert(!t.toDF(0).columns.contains("Deck"))

    // an evolved write may also OMIT existing columns — they null-fill
    val partial = evolved.drop("Cabin")
      .withColumn("PassengerId", col("PassengerId") + 100)
    DeltaLikeTable.write(partial, path, "append", mergeSchema = true)
    assert(t.toDF.where(col("PassengerId") > 200 && col("Cabin").isNull).count() === 5)

    // further strict appends must match the EVOLVED schema
    val e1 = intercept[IllegalArgumentException] {
      DeltaLikeTable.write(titanic(3), path, "append")
    }
    assert(e1.getMessage.contains("schema mismatch"))

    // type changes stay rejected even with mergeSchema
    val e2 = intercept[IllegalArgumentException] {
      DeltaLikeTable.write(
        titanic(3).withColumn("Age", col("Age").cast("string")),
        path, "append", mergeSchema = true)
    }
    assert(e2.getMessage.contains("cannot change"))

    // format-writer sugar: option("mergeSchema", "true")
    val more = titanic(2)
      .withColumn("PassengerId", col("PassengerId") + 300)
      .withColumn("Source", lit("csv"))
    more.write.format("deltalike").mode("append")
      .option("mergeSchema", "true").save(path)
    assert(t.toDF.columns.contains("Source"))
    assert(t.toDF.where(col("Source") === "csv").count() === 2)
  }

  test("mergeSchema type widening: int→long / float→double accepted, narrowing rejected") {
    val sp = spark; import sp.implicits._
    val path = tmpTable()
    DeltaLikeTable.write(
      Seq((1, 1.5f), (2, 2.5f)).toDF("id", "x"), path) // int, float

    // widened append: committed schema promotes, old files read through it
    DeltaLikeTable.write(
      Seq((3L, 3.5d)).toDF("id", "x"), path, "append", mergeSchema = true)
    val t = DeltaLikeTable.forPath(spark, path)
    val df = t.toDF
    assert(df.schema("id").dataType === LongType)
    assert(df.schema("x").dataType === DoubleType)
    assert(df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))
    // time travel still shows the pre-widening schema
    assert(t.toDF(0).schema("id").dataType === IntegerType)

    // narrower write against the widened table: rejected, not silently cast
    val e = intercept[IllegalArgumentException] {
      DeltaLikeTable.write(
        Seq((4, 4.5f)).toDF("id", "x"), path, "append", mergeSchema = true)
    }
    assert(e.getMessage.contains("cannot change"))

    // widening composes with column adds in one evolved write
    DeltaLikeTable.write(
      Seq((5L, 5.5d, "new")).toDF("id", "x", "tag"),
      path, "append", mergeSchema = true)
    assert(t.toDF.where("tag = 'new'").count() === 1)
    assert(t.toDF.where("id = 1 AND tag IS NULL").count() === 1)
  }

  test("abandoned commits delete their staged files (no orphans)") {
    val sp = spark; import sp.implicits._
    val path = tmpTable()
    DeltaLikeTable.write(Seq((1L, "a")).toDF("id", "v"), path)
    def dataFiles(): Set[String] =
      NioTableIO.walkFiles(path).filter(_.endsWith(".parquet")).toSet
    val before = dataFiles()

    // a twin commit of the same Txn lands first: the write is abandoned
    // after staging → staged files must be gone
    val log = DeltaLog.forPath(path)
    DeltaLog.preCommitHook = () =>
      log.commit(log.latestVersion + 1, Seq(Txn("twin", 1L), CommitInfo("TWIN", 0L)))
    DeltaLikeTable.write(Seq((2L, "b")).toDF("id", "v"), path, "append",
      extraActions = Seq(Txn("twin", 1L)))
    assert(dataFiles() === before, "abandoned commit left orphan files")

    // a commit attempt that dies (hook throws) also cleans up
    DeltaLog.preCommitHook = () => throw new RuntimeException("boom")
    intercept[RuntimeException] {
      DeltaLikeTable.write(Seq((3L, "c")).toDF("id", "v"), path, "append")
    }
    assert(dataFiles() === before, "failed commit left orphan files")
    assert(DeltaLikeTable.forPath(spark, path).toDF.count() === 1)
  }

  test("bloomFilterColumns writes parquet-native blooms; reads stay correct") {
    val sp = spark; import sp.implicits._
    import scala.jdk.CollectionConverters._
    val path = tmpTable()
    val df = (1 to 2000).map(i => (i.toLong, s"u-$i")).toDF("id", "v").repartition(2)
    DeltaLikeTable.write(df, path, bloomFilterColumns = Seq("v"))
    val t = DeltaLikeTable.forPath(spark, path)
    // point lookups unchanged semantically (blooms only prune row groups)
    assert(t.toDF.where("v = 'u-1500'").count() === 1)
    assert(t.toDF.where("v = 'nope'").count() === 0)

    val file = t.log.snapshot().files.head.path
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$path/$file"),
        spark.sparkContext.hadoopConfiguration))
    try {
      val block = reader.getFooter.getBlocks.get(0)
      val cols = block.getColumns.asScala
      val bfReader = reader.getBloomFilterDataReader(block)
      val bfV = bfReader.readBloomFilter(cols.find(_.getPath.toDotString == "v").get)
      assert(bfV != null, "requested column has no bloom filter")
      assert(bfReader.readBloomFilter(
        cols.find(_.getPath.toDotString == "id").get) == null,
        "unrequested column unexpectedly has a bloom filter")
      // membership: a value from THIS file hits, a never-written one misses
      val sample = spark.read.parquet(s"$path/$file")
        .select("v").head().getString(0)
      import org.apache.parquet.io.api.Binary
      assert(bfV.findHash(bfV.hash(Binary.fromString(sample))))
      assert(!bfV.findHash(bfV.hash(Binary.fromString("never-written-value-xyz"))))
    } finally reader.close()

    // sticky table property: a later append (no option) and an OPTIMIZE
    // rewrite both inherit the bloom declaration
    def hasBloomOnV(rel: String): Boolean = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$path/$rel"),
          spark.sparkContext.hadoopConfiguration))
      try {
        val b = r.getFooter.getBlocks.get(0)
        r.getBloomFilterDataReader(b).readBloomFilter(
          b.getColumns.asScala.find(_.getPath.toDotString == "v").get) != null
      } finally r.close()
    }
    DeltaLikeTable.write(
      Seq((9001L, "u-appended")).toDF("id", "v"), path, "append")
    val appended = (t.log.snapshot(1).files.map(_.path).toSet --
      t.log.snapshot(0).files.map(_.path).toSet).head
    assert(hasBloomOnV(appended), "append did not inherit bloom columns")
    t.optimize(1)
    assert(t.log.snapshot().files.forall(f => hasBloomOnV(f.path)),
      "optimize did not inherit bloom columns")
    assert(t.toDF.where("v = 'u-appended'").count() === 1)
  }

  test("CHECK constraints gate writes, merges, and updates; sticky across overwrite") {
    val sp = spark; import sp.implicits._
    val path = tmpTable()
    DeltaLikeTable.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"), path)
    val t = DeltaLikeTable.forPath(spark, path)

    // adding a constraint existing rows violate is refused
    val e0 = intercept[IllegalArgumentException] { t.addConstraint("big", "bal >= 100") }
    assert(e0.getMessage.contains("existing rows violate"))
    t.addConstraint("non_negative", "bal >= 0")

    // a violating append writes NOTHING (no version, no orphan files)
    val vBefore = t.version
    val e1 = intercept[IllegalArgumentException] {
      DeltaLikeTable.write(Seq((3L, -5.0)).toDF("id", "bal"), path, "append")
    }
    assert(e1.getMessage.contains("non_negative"))
    assert(t.version === vBefore)
    // null fails the check (SQL: constraint must evaluate true)
    intercept[IllegalArgumentException] {
      DeltaLikeTable.write(Seq((3L, null.asInstanceOf[java.lang.Double]))
        .toDF("id", "bal"), path, "append")
    }
    DeltaLikeTable.write(Seq((3L, 30.0)).toDF("id", "bal"), path, "append")
    assert(t.toDF.count() === 3)

    // MERGE and UPDATE enforce on the rewritten rows
    val e2 = intercept[IllegalArgumentException] {
      t.as("t").merge(Seq((1L, -1.0)).toDF("id", "bal").as("s"), "t.id = s.id")
        .whenMatchedUpdateAll().execute()
    }
    assert(e2.getMessage.contains("non_negative"))
    val e3 = intercept[IllegalArgumentException] {
      t.update(expr("id = 2"), Map("bal" -> lit(-7.0)))
    }
    assert(e3.getMessage.contains("non_negative"))
    assert(t.toDF.where("bal < 0").count() === 0)
    // DELETE never re-validates (subset of valid rows)
    t.delete("id = 3")

    // constraints survive an overwrite, and dropConstraint lifts the gate
    val e4 = intercept[IllegalArgumentException] {
      DeltaLikeTable.write(Seq((9L, -9.0)).toDF("id", "bal"), path, "overwrite")
    }
    assert(e4.getMessage.contains("non_negative"))
    t.dropConstraint("non_negative")
    DeltaLikeTable.write(Seq((9L, -9.0)).toDF("id", "bal"), path, "overwrite")
    assert(DeltaLikeTable.forPath(spark, path).toDF.count() === 1)
  }

  test("deletion vectors: small DELETE is metadata-only; reads/CDC/merge/optimize compose") {
    val sp = spark; import sp.implicits._
    val path = tmpTable()
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(2)
    DeltaLikeTable.write(df, path, enableDeletionVectors = true)
    val t = DeltaLikeTable.forPath(spark, path)
    def dataFiles() = NioTableIO.walkFiles(path).filter(_.endsWith(".parquet")).toSet
    val before = dataFiles()

    assert(t.delete("id IN (5, 500, 999)") === 3)
    assert(dataFiles() === before, "DV delete must not write or remove any data file")
    assert(t.version === 1)
    assert(t.toDF.count() === 997)
    assert(t.toDF.where("id IN (5, 500, 999)").count() === 0)
    assert(t.toDF(0).count() === 1000) // time travel sees pre-delete state
    assert(t.log.snapshot().files.map(_.numRecords).sum === 997) // live counts

    // a second DV delete stacks onto the existing vectors
    assert(t.delete("id IN (1, 2)") === 2)
    assert(t.toDF.count() === 995)
    assert(dataFiles() === before)

    // CDC reads the DV commit as row-level deletes, nothing else
    val dels = ChangeReader.changeFeed(spark, path, 0)
      .where("_commit_version = 1").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(dels === Set((5L, "delete"), (500L, "delete"), (999L, "delete")))

    // MERGE over a DV'd table sees live rows only (500 is dead → insert)
    t.as("t").merge(Seq((500L, "BACK")).toDF("id", "v").as("s"), "t.id = s.id")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(t.toDF.where("id = 500").select("v").head().getString(0) === "BACK")
    assert(t.toDF.count() === 996)

    // UPDATE via DV: old row soft-deleted, only the new row written
    val filesBeforeUpdate = dataFiles()
    assert(t.update(expr("id = 10"), Map("v" -> lit("TEN"))) === 0L)
    val newFiles = dataFiles() -- filesBeforeUpdate
    assert(filesBeforeUpdate.subsetOf(dataFiles()),
      "DV update must not remove data files")
    assert(newFiles.nonEmpty, "DV update appends the rewritten rows")
    assert(t.toDF.where("id = 10").select("v").head().getString(0) === "TEN")
    assert(t.toDF.count() === 996)
    // CDC on the update version: delete(old) + insert(new)
    val upd = ChangeReader.changeFeed(spark, path, t.version - 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(upd === Set((10L, "v10", "delete"), (10L, "TEN", "insert")))

    // OPTIMIZE compacts away the vectors
    t.optimize(1)
    assert(t.log.snapshot().files.forall(_.deletedRows.isEmpty))
    assert(t.toDF.count() === 996)
    assert(t.toDF.where("id IN (1, 2, 5, 999)").count() === 0)
  }

  /** One task writing two partition directories gives both files the
    * same name (`k=1/part-00000-<job>…`, `k=2/part-00000-<job>…`).
    */
  private def oneTaskPartitioned(path: String): DeltaLikeTable = {
    val sp = spark; import sp.implicits._
    DeltaLikeTable.write(
      Seq((1, 1L, "a"), (1, 2L, "b"), (2, 3L, "c"), (2, 4L, "d"))
        .toDF("k", "id", "v").coalesce(1),
      path, partitionBy = Seq("k"), enableDeletionVectors = true)
    DeltaLikeTable.forPath(spark, path)
  }

  private def idsAndValues(df: DataFrame): Set[(Long, String)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("deletion vectors: DELETE on a one-task partitioned write marks only its own file") {
    val path = tmpTable()
    val t = oneTaskPartitioned(path)
    assert(t.delete("id = 1") === 1)
    assert(idsAndValues(t.toDF) === Set((2L, "b"), (3L, "c"), (4L, "d")))
    assert(t.log.snapshot().files.map(_.deletedRows.size).sum === 1)
    assert(ChangeReader.changeFeed(spark, path, 0)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "delete")))
  }

  test("deletion vectors: UPDATE on a one-task partitioned write leaves the other partition alone") {
    val path = tmpTable()
    val t = oneTaskPartitioned(path)
    assert(t.update(expr("id = 1"), Map("v" -> lit("A"))) === 0L)
    assert(idsAndValues(t.toDF) ===
      Set((1L, "A"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(ChangeReader.changeFeed(spark, path, 0)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ===
      Set((1L, "a", "delete"), (1L, "A", "insert")))
  }

  test("deletion vectors: a converted layout sharing a file name across partitions deletes by rewrite") {
    val sp = spark; import sp.implicits._
    val path = tmpTable() + "/data"
    Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 2), (4L, "d", 2))
      .toDF("id", "v", "k").coalesce(1)
      .write.partitionBy("k").parquet(path)
    val t = DeltaLikeTable.convert(spark, path, partitionColumns = Seq("k"))
    val names = t.log.snapshot().files.map(f => f.path.substring(f.path.lastIndexOf('/') + 1))
    assert(names.size === 2 && names.distinct.size === 1, names)
    DeltaLikeTable.write(Seq((5L, "e", 3)).toDF("id", "v", "k"), path,
      mode = "append", enableDeletionVectors = true)
    assert(t.delete("id = 1") === 1)
    assert(idsAndValues(t.toDF) === Set((2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    val snap = t.log.snapshot()
    assert(snap.files.forall(_.deletedRows.isEmpty), "shared name must take the rewrite path")
    assert(!snap.files.exists(_.path == "k=1/" + names.head))
  }

  test("commit is create-exclusive: double commit of same version fails") {
    val path = tmpTable()
    DeltaLikeTable.write(titanic(5), path)
    val log = DeltaLog.forPath(path)
    intercept[java.nio.file.FileAlreadyExistsException] {
      log.commit(0, Seq(CommitInfo("DUP", 0L)))
    }
  }

  test("touched-file pruning rewrites only matching files") {
    val path = tmpTable()
    // 4 files by explicit repartition on range → merge touching one key
    // range should leave most files untouched
    val df = titanic(400).repartitionByRange(4, col("PassengerId"))
    DeltaLikeTable.write(df, path)
    val t = DeltaLikeTable.forPath(spark, path)
    val v0Files = t.log.snapshot(0).files.map(_.path).toSet
    val src = titanic(400).where("PassengerId = 1").withColumn("Survived", lit(1))
    t.as("t").merge(src.as("s"), "t.PassengerId = s.PassengerId")
      .whenMatchedUpdateAll().execute()
    val v1Files = t.log.snapshot(1).files.map(_.path).toSet
    val carried = v0Files.intersect(v1Files)
    assert(carried.size >= 2, s"expected untouched files carried over, got $carried")
    assert(t.toDF.count() === 400)
  }
}

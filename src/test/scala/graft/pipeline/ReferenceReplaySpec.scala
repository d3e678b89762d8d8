package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession
import graft.sources.Sources
import graft.tables.DeltaLikeTable

/** End-to-end replay of the reference job
  * (`/root/reference/sparkcode/titanic_example_delta.py`) as a
  * [[Pipeline]] over a titanic-shaped `;`-separated CSV — the full §2.A
  * + §2.B sequence through the orchestration layer (SURVEY.md §5.3),
  * with the three observable outcomes of §3.E2 asserted at the end.
  */
class ReferenceReplaySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("reference-replay", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private val ddl =
    "PassengerId INT, Survived INT, Pclass INT, Name STRING, Sex STRING, " +
      "Age DOUBLE, SibSp INT, Parch INT, Ticket STRING, Fare DOUBLE, " +
      "Cabin STRING, Embarked STRING"

  /** Deterministic titanic-shaped CSV: 891 rows, `;` separator, header,
    * empty fields for the nullable columns (FIXTURES.md §2).
    */
  private def writeCsv(dir: String): Unit = {
    val header = ddl.split(", ").map(_.split(" ")(0)).mkString(";")
    val rows = (1 to 891).map { i =>
      val age = if (i % 7 == 0) "" else (20.0 + i % 40).toString
      val cabin = if (i % 5 == 0) "" else s"C$i"
      val embarked = if (i % 11 == 0) "" else "S"
      s"$i;${i % 2};${1 + i % 3};Passenger $i;${if (i % 2 == 0) "male" else "female"};" +
        s"$age;${i % 3};${i % 2};T$i;${10.0 + i};$cabin;$embarked"
    }
    Files.writeString(java.nio.file.Paths.get(dir, "titanic.csv"),
      (header +: rows).mkString("\n"))
  }

  test("full reference pipeline: csv → v0 → merge → reads → time travel → manifest") {
    val csvDir = tempDirs("titanic_csv")
    val tablePath = tempDirs("titanic_table")
    writeCsv(csvDir)

    val pipeline = new Pipeline(Seq(
      // :19-25 — schema-declared `;` CSV → deltalike overwrite (v0)
      Stage("ingest")(s =>
        DeltaLikeTable.write(
          Sources.csv(s, s"$csvDir/titanic.csv", ddl), tablePath, "overwrite")),
      // :28-35 — IN-filter, withColumn-replace, local rows, union
      // :38-51 — MERGE (UpdateAll / InsertAll)
      Stage("upsert", deps = Seq("ingest")) { s =>
        val base = DeltaLikeTable.forPath(s, tablePath).toDF
        val updated = base.where("PassengerId IN (1, 5)")
          .withColumn("Survived", lit(1))
        val newRows = s.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row(
              892, 1, 1, "Teste A", "male", 35.0, 0, 0, null, null, null, null),
            org.apache.spark.sql.Row(
              893, 1, 1, "Teste B", "female", 25.0, 1, 1, null, null, null, null)),
          base.schema)
        DeltaLikeTable.forPath(s, tablePath).as("old")
          .merge(updated.union(newRows).as("new"),
            "old.PassengerId = new.PassengerId")
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .execute()
      },
      // :72 — manifest
      Stage("manifest", deps = Seq("upsert"))(s =>
        DeltaLikeTable.forPath(s, tablePath).generate("symlink_format_manifest"))))

    val report = pipeline.execute(spark)
    assert(report.ok, s"pipeline failed: ${report.results.filterNot(_.ok)}")
    assert(report.results.map(_.name) === Seq("ingest", "upsert", "manifest"))

    // :56-61 — latest snapshot, filtered like the reference's check read
    val t = DeltaLikeTable.forPath(spark, tablePath)
    val latest = t.toDF.where("PassengerId < 6 OR PassengerId > 888")
    assert(latest.count() === 10) // 1..5 + 889..893
    assert(latest.where("PassengerId IN (1, 5)")
      .select("Survived").collect().map(_.getInt(0)).toSeq === Seq(1, 1))
    assert(latest.where("PassengerId IN (892, 893)").count() === 2)
    // nulls from the local rows survived the merge
    assert(t.toDF.where("PassengerId = 892 AND Ticket IS NULL AND Fare IS NULL").count() === 1)

    // :64-70 — versionAsOf 0: pre-merge state
    val v0 = spark.read.format("deltalike").option("versionAsOf", "0").load(tablePath)
      .where("PassengerId < 6 OR PassengerId > 888")
    assert(v0.count() === 8) // 1..5 + 889..891
    assert(v0.where("PassengerId = 1").select("Survived").head().getInt(0) === 1)
    // CSV empty fields were read as nulls under the declared schema
    assert(t.toDF(0).where("Age IS NULL").count() === 127) // multiples of 7 ≤ 891

    val manifest = java.nio.file.Paths.get(tablePath, "_symlink_format_manifest", "manifest")
    assert(Files.exists(manifest))
  }

  test("pipeline fail-fast and cycle detection") {
    var ran = Vector.empty[String]
    val p = new Pipeline(Seq(
      Stage("a")(_ => ran :+= "a"),
      Stage("boom", deps = Seq("a"))(_ => throw new RuntimeException("x")),
      Stage("after", deps = Seq("boom"))(_ => ran :+= "after")))
    val r = p.execute(spark)
    assert(!r.ok)
    assert(ran === Vector("a"))
    assert(r.results.map(_.name) === Seq("a", "boom")) // 'after' skipped

    intercept[IllegalArgumentException] {
      new Pipeline(Seq(
        Stage("x", deps = Seq("y"))(_ => ()),
        Stage("y", deps = Seq("x"))(_ => ()))).ordered
    }
  }
}

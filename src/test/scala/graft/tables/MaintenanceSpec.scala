package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** OPTIMIZE (compaction) and VACUUM semantics: logical no-op, version
  * history preserved, physical cleanup bounded by retention.
  */
class MaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("maintenance-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def freshTable(): (String, DeltaLikeTable) = {
    val sp = spark; import sp.implicits._
    val path = tempDirs("maint")
    // several appends → many small files
    (0 until 4).foreach { i =>
      DeltaLikeTable.write(
        (i * 100 until (i + 1) * 100).map(k => (k.toLong, s"v$k")).toDF("id", "v")
          .repartition(4),
        path, if (i == 0) "overwrite" else "append")
    }
    (path, DeltaLikeTable.forPath(spark, path))
  }

  test("optimize compacts files without changing data; old versions intact") {
    val (_, t) = freshTable()
    val before = t.toDF.collect().map(_.toSeq).toSet
    val nFilesBefore = t.log.snapshot().files.size
    assert(nFilesBefore >= 8)

    t.optimize(targetFiles = 2)
    assert(t.version === 4)
    assert(t.log.snapshot().files.size <= 2)
    assert(t.toDF.collect().map(_.toSeq).toSet === before)
    // pre-compaction version still readable from original files
    assert(t.toDF(3).count() === 400)
    assert(t.toDF(0).count() === 100)
    assert(t.history().last._2 === "OPTIMIZE")
  }

  test("optimize zorder clusters files so stats prune on every keyed dimension") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.sources.EqualTo
    val path = tempDirs("zorder")
    // 64x64 grid, written hash-shuffled: every file spans the full range
    // of both x and y, so nothing prunes
    val grid = (0 until 4096).map(i => (i.toLong, (i % 64).toLong, (i / 64).toLong))
      .toDF("id", "x", "y")
      .repartition(8, org.apache.spark.sql.functions.xxhash64($"id"))
    DeltaLikeTable.write(grid, path, "overwrite")
    val t = DeltaLikeTable.forPath(spark, path)
    val snap0 = t.log.snapshot()
    assert(DataSkipping.prune(snap0, Seq(EqualTo("x", 10L))).size === snap0.files.size,
      "unclustered baseline should not prune")

    t.optimize(targetFiles = 16, zorderBy = Seq("x", "y"))
    val snap1 = t.log.snapshot()
    assert(snap1.files.size === 16)
    // data unchanged
    assert(t.toDF.agg(org.apache.spark.sql.functions.sum($"id")).head().getLong(0)
      === (0L until 4096L).sum)
    // each file now covers a hyper-rectangle: point predicates on EITHER
    // dimension must prune at least half the files
    val keptX = DataSkipping.prune(snap1, Seq(EqualTo("x", 10L))).size
    val keptY = DataSkipping.prune(snap1, Seq(EqualTo("y", 10L))).size
    assert(keptX <= 8, s"x pruning kept $keptX of 16")
    assert(keptY <= 8, s"y pruning kept $keptY of 16")
    // provenance recorded
    assert(t.history().map(_._2).exists(_.startsWith("OPTIMIZE ZORDER")))
  }

  test("vacuum deletes only unreferenced files; retained versions still read") {
    val (path, t) = freshTable()
    t.optimize(targetFiles = 1)
    val deleted = t.vacuum(retainVersions = 1)
    assert(deleted.nonEmpty)
    deleted.foreach(f => assert(!Files.exists(Paths.get(path, f))))
    // latest still fully readable
    assert(t.toDF.count() === 400)
    // vacuumed old version now fails to read (files physically gone)
    intercept[Exception] { t.toDF(0).count() }
    // nothing else was deleted: active files all present
    t.log.snapshot().files.foreach(f =>
      assert(Files.exists(Paths.get(path, f.path))))
  }

  test("concurrent appends all land via optimistic retry") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("concur")
    DeltaLikeTable.write((1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 4).map { w =>
      Future {
        DeltaLikeTable.write(
          (1 to 25).map(i => ((w * 1000 + i).toLong, s"w$w-$i")).toDF("id", "v"),
          path, "append")
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.version === 4) // every append committed its own version
    assert(t.toDF.count() === 110)
    // overwrite conflict is NOT retried: colliding version numbers fail
    intercept[java.nio.file.FileAlreadyExistsException] {
      t.log.commit(2, Seq(CommitInfo("DUP", 0L)))
    }
  }

  test("log checkpoints: snapshot equals full replay; time travel spans checkpoints") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("ckpt")
    // 25 versions → checkpoints at v10 and v20
    (0 until 25).foreach { i =>
      DeltaLikeTable.write(
        Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1),
        path, if (i == 0) "overwrite" else "append")
    }
    val log = DeltaLog.forPath(path)
    assert(log.latestCheckpoint(24) === Some(20L))
    assert(log.latestCheckpoint(19) === Some(10L))
    assert(log.latestCheckpoint(9) === None)

    // checkpoint-based snapshot must equal the state implied by the data
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.toDF.count() === 25)
    assert(log.snapshot().files.size === 25)
    // time travel before, at, and after a checkpoint
    Seq(5L, 10L, 15L, 20L, 24L).foreach { v =>
      assert(t.toDF(v).count() === v + 1, s"version $v")
    }
    // a checkpoint round-trips the schema and partition columns
    val snap = log.snapshot(20L)
    assert(snap.schema.fieldNames.toSeq === Seq("id", "v"))

    // overwrite after checkpoints: removes recorded post-checkpoint win
    DeltaLikeTable.write(Seq((99L, "z")).toDF("id", "v"), path, "overwrite")
    assert(t.toDF.count() === 1)
  }

  test("txn watermarks ride the snapshot and survive checkpoints") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("txns")
    (0 until 12).foreach { i =>
      DeltaLikeTable.write(
        Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1),
        path, if (i == 0) "overwrite" else "append",
        extraActions = if (i % 2 == 0) Seq(Txn("qA", i.toLong)) else Seq(Txn("qB", i.toLong)))
    }
    val log = DeltaLog.forPath(path)
    // v10 checkpoint exists; watermarks must be identical either side of it
    assert(log.latestCheckpoint(11) === Some(10L))
    assert(log.snapshot().txns === Map("qA" -> 10L, "qB" -> 11L))
    assert(log.snapshot(9L).txns === Map("qA" -> 8L, "qB" -> 9L))
  }

  test("cleanupLogs drops pre-checkpoint segments; retained reads and history survive") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("logclean")
    (0 until 25).foreach { i =>
      DeltaLikeTable.write(
        Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1),
        path, if (i == 0) "overwrite" else "append")
    }
    val t = DeltaLikeTable.forPath(spark, path)
    val log = t.log

    // vacuum first (no-op here: appends never unreference files), then
    // drop everything below the checkpoint covering the retained window
    t.vacuum(retainVersions = 5)
    val removed = log.cleanupLogs(retainVersions = 5)
    // retention floor = v20 checkpoint → versions 0..19 and the v10
    // checkpoint go away
    assert(removed.nonEmpty)
    assert(log.minVersion === 20L)

    // latest and any version >= the surviving checkpoint still resolve
    assert(t.toDF.count() === 25)
    Seq(20L, 22L, 24L).foreach(v => assert(t.toDF(v).count() === v + 1))
    // pre-checkpoint time travel fails with a clear retention error
    val e = intercept[IllegalArgumentException] { t.toDF(5L).count() }
    assert(e.getMessage.contains("predates the retained log"))
    // history spans only retained versions, without crashing on the gap
    assert(t.history().map(_._1) === (20L to 24L))
    // subsequent writes and vacuums keep working
    DeltaLikeTable.write(Seq((99L, "z")).toDF("id", "v"), path, "append")
    assert(t.toDF.count() === 26)
    assert(t.vacuum(retainVersions = 1).isEmpty === false || t.toDF.count() === 26)
  }

  test("vacuum with larger retention keeps recent versions readable") {
    val (_, t) = freshTable()
    t.optimize(targetFiles = 1) // v4
    t.vacuum(retainVersions = 2) // keep v3 + v4 files
    assert(t.toDF(3).count() === 400)
    assert(t.toDF.count() === 400)
  }

  test("RESTORE rewinds table state as a new auditable version") {
    val sp = spark; import sp.implicits._
    val (path, t) = freshTable() // v0..v3, 400 rows
    t.delete("id < 200") // v4: rewrite
    assert(t.toDF.count() === 200)

    t.restore(3) // back to the full 400 rows
    assert(t.version === 5, "restore is a new commit, not history rewriting")
    assert(t.toDF.count() === 400)
    assert(t.toDF.select("id").distinct().count() === 400)
    // the deleted state remains time-travelable and audited
    assert(t.toDF(4).count() === 200)
    assert(t.history().exists(_._2.startsWith("RESTORE VERSION AS OF 3")))

    // restoring to a vacuumed version fails with a clear error
    t.delete("id >= 300") // v6
    t.vacuum(retainVersions = 1)
    val e = intercept[IllegalStateException] { t.restore(5) }
    assert(e.getMessage.contains("vacuumed"))

    // no-op restore to the current version commits nothing
    val v = t.version
    t.restore(v)
    assert(t.version === v)
  }

  test("RESTORE resurrects deletion-vector'd rows (entry-level diff, not path-level)") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("restore_dv")
    DeltaLikeTable.write(
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      path, enableDeletionVectors = true)
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.delete("id <= 3") === 3) // DV commit: same path, new exclusions
    assert(t.toDF.count() === 97)
    t.restore(0)
    // a path-only file diff would keep the DV and leave the rows dead
    assert(t.toDF.count() === 100, "restore must clear the deletion vector")
    assert(t.toDF.where("id <= 3").count() === 3)

    // same through a DV UPDATE: old row resurrected, new version dropped
    t.update(org.apache.spark.sql.functions.expr("id = 50"),
      Map("v" -> org.apache.spark.sql.functions.lit("FIFTY")))
    assert(t.toDF.where("v = 'FIFTY'").count() === 1)
    t.restore(0)
    assert(t.toDF.count() === 100)
    assert(t.toDF.where("id = 50").select("v").head().getString(1 - 1) === "v50")
  }

  test("non-deterministic DELETE/UPDATE conditions are rejected up front") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("nondet")
    DeltaLikeTable.write((1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path)
    val t = DeltaLikeTable.forPath(spark, path)
    val e1 = intercept[IllegalArgumentException] { t.delete("rand() < 0.5") }
    assert(e1.getMessage.contains("deterministic"))
    val e2 = intercept[IllegalArgumentException] {
      t.update(org.apache.spark.sql.functions.expr("rand() < 0.5"),
        Map("v" -> org.apache.spark.sql.functions.lit("x")))
    }
    assert(e2.getMessage.contains("deterministic"))
    assert(t.toDF.count() === 50) // nothing changed, no version committed
    assert(t.version === 0)
  }

  test("VACUUM DRY RUN lists reclaimable files without deleting them") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("vac_dry")
    DeltaLikeTable.write((1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path)
    val t = DeltaLikeTable.forPath(spark, path)
    t.optimize() // old files become unreferenced by the head

    val wouldDelete = spark.sql(s"VACUUM deltalike.`$path` RETAIN 1 VERSIONS DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(wouldDelete.nonEmpty)
    assert(t.toDF(0).count() === 20, "dry run must not delete anything")

    val deleted = t.vacuum(retainVersions = 1)
    assert(deleted.sorted === wouldDelete.sorted,
      "the real vacuum must reclaim exactly the dry-run list")
    assert(t.toDF.count() === 20) // head still reads
  }

  test("OPTIMIZE WHERE compacts only the matching partitions") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("opt_where")
    // 3 partitions, several files each (repartition forces multiple)
    val df = (1 to 300).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "k", "v")
      .repartition(4)
    DeltaLikeTable.write(df, path, partitionBy = Seq("k"))
    val t = DeltaLikeTable.forPath(spark, path)
    val before = t.log.snapshot().files.map(_.path)
    val untouched = before.filterNot(_.startsWith("k=1/")).toSet
    assert(before.count(_.startsWith("k=1/")) > 1, "need >1 file in k=1")

    spark.sql(s"OPTIMIZE deltalike.`$path` WHERE k = 1")
    val after = DeltaLikeTable.forPath(spark, path).log.snapshot().files.map(_.path)
    assert(after.count(_.startsWith("k=1/")) === 1, "k=1 compacted to one file")
    assert(after.filterNot(_.startsWith("k=1/")).toSet === untouched,
      "other partitions' files must be byte-identical (same log entries)")
    assert(t.toDF.count() === 300)
    assert(t.toDF.where("k = 1").count() === 100)

    // predicate on a non-partition column is refused
    assert(intercept[IllegalArgumentException] {
      t.optimize(1, Seq.empty, Some("v = 'v1'"))
    }.getMessage.contains("partition columns only"))

    // predicate matching nothing commits nothing
    val v = t.version
    t.optimize(1, Seq.empty, Some("k = 99"))
    assert(t.version === v)
  }

  test("timestampAsOf resolves the newest version at or before the instant") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("ts_travel")
    DeltaLikeTable.write(Seq((1L, "a")).toDF("id", "v"), path)
    DeltaLikeTable.write(Seq((2L, "b")).toDF("id", "v"), path, "append")
    DeltaLikeTable.write(Seq((3L, "c")).toDF("id", "v"), path, "append")
    val t = DeltaLikeTable.forPath(spark, path)
    val times = t.history().map { case (v, _, ts) => v -> ts }.toMap

    assert(t.log.versionAtTimestamp(times(0L)) === 0L)
    assert(t.log.versionAtTimestamp(times(2L)) === 2L)
    assert(t.log.versionAtTimestamp(times(2L) + 60000) === 2L)
    intercept[IllegalArgumentException] {
      t.log.versionAtTimestamp(times(0L) - 1)
    }

    // format-option surface: epoch-millis and mutual exclusion
    val atV1 = spark.read.format("deltalike")
      .option("timestampAsOf", times(1L).toString).load(path)
    assert(atV1.count() === 2)
    intercept[IllegalArgumentException] {
      spark.read.format("deltalike")
        .option("timestampAsOf", times(1L).toString)
        .option("versionAsOf", "0").load(path)
    }
    // ISO forms parse (instant in the far future → latest version)
    assert(spark.read.format("deltalike")
      .option("timestampAsOf", "2999-01-01").load(path).count() === 3)
  }

  test("vacuum sweep reclaims crash debris but never young or live files") {
    val (path, t) = freshTable()
    // simulate a writer killed between staging and commit: parquet-ish
    // debris the log never heard of, in the root and in a subdirectory
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/part-orphan.parquet"), "junk")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$path/p=1"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/p=1/part-orphan2.parquet"), "junk")

    val before = t.toDF.collect().toSet
    // without sweep: untracked debris is untouched
    t.vacuum(1, dryRun = false)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/part-orphan.parquet")))
    // young files survive an age-guarded sweep (the live-writer race)
    val keptYoung = t.vacuum(1, dryRun = false,
      sweepUntrackedOlderThanMs = 60 * 60 * 1000L)
    assert(!keptYoung.exists(_.contains("orphan")))
    // age 0: debris goes (dry run first lists it without deleting)
    val listed = t.vacuum(1, dryRun = true, sweepUntrackedOlderThanMs = 0L)
    assert(listed.exists(_.endsWith("part-orphan.parquet")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/part-orphan.parquet")))
    val swept = t.vacuum(1, dryRun = false, sweepUntrackedOlderThanMs = 0L)
    assert(swept.exists(_.endsWith("part-orphan.parquet")))
    assert(swept.exists(_.endsWith("part-orphan2.parquet")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/part-orphan.parquet")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/p=1/part-orphan2.parquet")))
    // live data untouched throughout
    assert(t.toDF.collect().toSet === before)
  }

  test("clustered writes: CLUSTER BY z-orders every batch, sticky, OPTIMIZE preserves it") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.sources.EqualTo
    val path = tempDirs("clusterby")
    val grid = (0 until 4096).map(i => (i.toLong, (i % 64).toLong, (i / 64).toLong))
      .toDF("id", "x", "y")
      .repartition(8, org.apache.spark.sql.functions.xxhash64($"id"))
    DeltaLikeTable.write(grid, path, clusterBy = Seq("x", "y"))
    val t = DeltaLikeTable.forPath(spark, path)
    val snap0 = t.log.snapshot()
    assert(snap0.clusterBy === Seq("x", "y"))
    assert(snap0.files.size > 1, "need several files for pruning to mean anything")
    // skipping works from the FIRST commit — no OPTIMIZE ZORDER needed
    // (an unclustered write of this hash-shuffled grid prunes NOTHING:
    // every file spans the full x range — see the zorder test above)
    val kept = DataSkipping.prune(snap0, Seq(EqualTo("x", 10L))).size
    assert(kept < snap0.files.size,
      s"clustered write kept $kept of ${snap0.files.size} files for x=10")
    // appends inherit the clustering; redeclaring differently is refused
    DeltaLikeTable.write(
      (4096 until 4160).map(i => (i.toLong, (i % 64).toLong, 64L)).toDF("id", "x", "y"),
      path, "append")
    assert(t.log.snapshot().clusterBy === Seq("x", "y"))
    assert(intercept[IllegalArgumentException] {
      DeltaLikeTable.write(Seq((9999L, 0L, 0L)).toDF("id", "x", "y"),
        path, "append", clusterBy = Seq("y"))
    }.getMessage.contains("different clustering"))
    // OPTIMIZE without explicit zorder keeps the table clustered
    t.optimize(targetFiles = 16)
    val snap2 = t.log.snapshot()
    val keptAfter = DataSkipping.prune(snap2, Seq(EqualTo("y", 10L))).size
    assert(keptAfter * 2 <= snap2.files.size,
      s"optimize lost the clustering: kept $keptAfter of ${snap2.files.size}")
    assert(t.toDF.count() === 4160)
  }

  test("autoCompact collapses small-file buildup in the written partition only") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("autocompact")
    System.setProperty("graft.autoCompact.minFiles", "4")
    try {
      DeltaLikeTable.write(
        Seq((1, 0, "a")).toDF("k", "p", "v").coalesce(1), path,
        partitionBy = Seq("p"))
      // cold partition p=1: written once, then never touched again
      DeltaLikeTable.write(
        Seq((100, 1, "cold")).toDF("k", "p", "v").coalesce(1), path, "append")
      val t = DeltaLikeTable.forPath(spark, path)
      val coldFiles = t.log.snapshot().files.filter(_.path.startsWith("p=1")).map(_.path)
      assert(coldFiles.size === 1)
      // hot partition p=0: small appends pile up until the threshold
      (2 to 6).foreach { i =>
        DeltaLikeTable.write(
          Seq((i, 0, s"v$i")).toDF("k", "p", "v").coalesce(1), path, "append",
          autoCompact = true)
      }
      val snap = t.log.snapshot()
      val hot = snap.files.filter(_.path.startsWith("p=0"))
      assert(hot.size < 4, s"hot partition still has ${hot.size} files")
      assert(snap.files.filter(_.path.startsWith("p=1")).map(_.path) === coldFiles,
        "cold partition files must be untouched")
      assert(t.toDF.count() === 7)
      assert(t.historyDF().collect().exists(_.getString(2) == "OPTIMIZE (AUTO COMPACT)"))
      // auto-compaction is data-neutral: the change feed must deliver
      // only the appended rows, never compaction rewrites
      val changes = ChangeReader.changeFeed(spark, path, sinceVersion = 1)
      assert(changes.where("_change_type = 'delete'").count() === 0,
        "compaction must not surface as row deletes in the change feed")
      assert(changes.where("_change_type = 'insert'").count() === 5)
    } finally System.clearProperty("graft.autoCompact.minFiles")
  }
}

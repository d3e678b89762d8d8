package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Multi-writer behavior of the one commit transaction
  * ([[DeltaLog.transact]]): a REWRITING commit (MERGE / DELETE / UPDATE /
  * OPTIMIZE) that lost the commit race rebases onto the new head iff the
  * concurrent commit touched disjoint files, and fails as a genuine
  * conflict otherwise; an overwrite never rebases, an append fails over a
  * concurrent metadata change, and a duplicate [[Txn]] is abandoned.
  *
  * The interleaving is pinned deterministically with the one-shot
  * [[DeltaLog.preCommitHook]] seam: the "concurrent" writer
  * runs to completion between the outer transaction's snapshot read and
  * its first commit attempt — exactly the window where optimistic
  * concurrency matters.
  */
class ConcurrentRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("concurrent-rewrite-spec", cores = 4)
  }
  override def afterAll(): Unit = {
    DeltaLog.preCommitHook = () => ()
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()
  }

  /** k-partitioned table, ONE file per k (coalesce(1) before the write),
    * so "same partition" and "same file" coincide and the conflict cases
    * are deterministic.
    */
  private def fresh(): String = {
    val sp = spark; import sp.implicits._
    val path = tempDirs("conc_rewrite")
    DeltaLikeTable.write(
      Seq((1, 1L, 10), (1, 2L, 20), (2, 3L, 30), (2, 4L, 40))
        .toDF("k", "id", "n").coalesce(1),
      path, partitionBy = Seq("k"))
    path
  }

  private def state(path: String): Seq[(Int, Long, Int)] =
    DeltaLikeTable.forPath(spark, path).toDF
      .select(col("k"), col("id"), col("n"))
      .orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq

  private def mergeN(path: String, id: Long, n: Int): Unit = {
    val sp = spark; import sp.implicits._
    DeltaLikeTable.forPath(spark, path).as("t")
      .merge(Seq((id, n)).toDF("id", "n").as("s"), "t.id = s.id")
      .whenMatchedUpdate(Map("n" -> col("s.n")))
      .execute()
  }

  /** Every data file on disk belongs to some version of the log (removed
    * files stay for time travel): a transaction that lost the commit race
    * discarded the files it staged.
    */
  private def assertNoTrace(path: String): Unit = {
    val t = DeltaLikeTable.forPath(spark, path)
    val referenced = (0L to t.version).flatMap(v => t.log.snapshot(v).files.map(_.path)).toSet
    val onDisk = new java.io.File(path).listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("k="))
      .flatMap(d => d.listFiles().map(f => s"${d.getName}/${f.getName}"))
      .toSet
    assert(onDisk === referenced)
  }

  test("partition-disjoint concurrent MERGEs both commit, state = serial") {
    val path = fresh()
    // the k=2 merge lands while the k=1 merge is between snapshot and commit
    DeltaLog.preCommitHook = () => mergeN(path, 3L, 300)
    mergeN(path, 1L, 100)
    assert(DeltaLikeTable.forPath(spark, path).version === 2)
    assert(state(path) === Seq((1, 1L, 100), (1, 2L, 20), (2, 3L, 300), (2, 4L, 40)))
  }

  test("same-file concurrent MERGEs conflict; loser leaves no trace") {
    val path = fresh()
    // both merges rewrite the k=1 file (ids 1 and 2 share it)
    DeltaLog.preCommitHook = () => mergeN(path, 2L, 200)
    intercept[java.util.ConcurrentModificationException] {
      mergeN(path, 1L, 100)
    }
    // winner's commit stands alone; loser's staged files were discarded —
    // every parquet on disk belongs to v0 or v1 (removed files stay for
    // time travel; nothing unreferenced survives)
    assert(DeltaLikeTable.forPath(spark, path).version === 1)
    assert(state(path) === Seq((1, 1L, 10), (1, 2L, 200), (2, 3L, 30), (2, 4L, 40)))
    assertNoTrace(path)
  }

  test("DELETE rebases over a partition-disjoint concurrent MERGE") {
    val path = fresh()
    DeltaLog.preCommitHook = () => mergeN(path, 3L, 300)
    val removed = DeltaLikeTable.forPath(spark, path).delete("id = 1")
    assert(removed === 1L)
    assert(DeltaLikeTable.forPath(spark, path).version === 2)
    assert(state(path) === Seq((1, 2L, 20), (2, 3L, 300), (2, 4L, 40)))
  }

  test("UPDATE conflicts when the concurrent commit rewrote its file") {
    val path = fresh()
    DeltaLog.preCommitHook = () => mergeN(path, 2L, 200)
    intercept[java.util.ConcurrentModificationException] {
      DeltaLikeTable.forPath(spark, path)
        .update(col("id") === 1L, Map("n" -> org.apache.spark.sql.functions.lit(999)))
    }
    assert(state(path) === Seq((1, 1L, 10), (1, 2L, 200), (2, 3L, 30), (2, 4L, 40)))
    assertNoTrace(path)
  }

  test("OPTIMIZE WHERE rebases over a partition-disjoint concurrent MERGE") {
    val path = fresh()
    // split k=1 into two files so the compaction has work to do
    mergeN(path, 1L, 100) // v1 rewrites the k=1 file
    DeltaLog.preCommitHook = () => mergeN(path, 3L, 300)
    DeltaLikeTable.forPath(spark, path)
      .optimize(targetFiles = 1, zorderBy = Seq.empty, where = Some("k = 1"))
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.version === 3) // v1 merge, v2 concurrent merge, v3 compaction
    assert(state(path) === Seq((1, 1L, 100), (1, 2L, 20), (2, 3L, 300), (2, 4L, 40)))
    assert(t.history().map(_._2).count(_.startsWith("OPTIMIZE")) === 1)
  }

  test("OPTIMIZE conflicts when the concurrent commit rewrote a selected file") {
    val path = fresh()
    DeltaLog.preCommitHook = () => mergeN(path, 1L, 100)
    intercept[java.util.ConcurrentModificationException] {
      DeltaLikeTable.forPath(spark, path)
        .optimize(targetFiles = 1, zorderBy = Seq.empty, where = Some("k = 1"))
    }
    assert(state(path) === Seq((1, 1L, 100), (1, 2L, 20), (2, 3L, 30), (2, 4L, 40)))
    assertNoTrace(path)
  }

  test("schema-evolving MERGE fails fast on any concurrent commit") {
    val sp = spark; import sp.implicits._
    val path = fresh()
    DeltaLog.preCommitHook = () => mergeN(path, 3L, 300)
    intercept[java.nio.file.FileAlreadyExistsException] {
      DeltaLikeTable.forPath(spark, path).as("t")
        .merge(Seq((1, 1L, 100, "x")).toDF("k", "id", "n", "tag").as("s"),
          "t.id = s.id")
        .withSchemaEvolution()
        .whenMatchedUpdateAll()
        .execute()
    }
    // the concurrent (partition-disjoint) merge's commit is the only new
    // version — a rewrite carrying MetaData never rebases, even over a
    // commit it is file-disjoint from
    val t = DeltaLikeTable.forPath(spark, path)
    assert(t.version === 1)
    assert(state(path) === Seq((1, 1L, 10), (1, 2L, 20), (2, 3L, 300), (2, 4L, 40)))
  }

  test("overwrite fails fast when an append lands first") {
    val sp = spark; import sp.implicits._
    val path = fresh()
    DeltaLog.preCommitHook = () =>
      DeltaLikeTable.write(Seq((2, 9L, 90)).toDF("k", "id", "n"), path, "append")
    intercept[java.nio.file.FileAlreadyExistsException] {
      DeltaLikeTable.write(Seq((2, 5L, 50)).toDF("k", "id", "n"), path, "overwrite",
        partitionBy = Seq("k"))
    }
    // the overwrite removed only the files it read: committed, it would
    // leave the appended row live beside its own
    assert(DeltaLikeTable.forPath(spark, path).version === 1)
    assert(state(path) ===
      Seq((1, 1L, 10), (1, 2L, 20), (2, 3L, 30), (2, 4L, 40), (2, 9L, 90)))
    assertNoTrace(path)
  }

  test("append conflicts with a concurrent constraint it would violate") {
    val sp = spark; import sp.implicits._
    val path = fresh()
    DeltaLog.preCommitHook = () =>
      DeltaLikeTable.forPath(spark, path).addConstraint("pos", "id > 0")
    intercept[java.util.ConcurrentModificationException] {
      DeltaLikeTable.write(Seq((1, -5L, 0)).toDF("k", "id", "n"), path, "append")
    }
    assert(DeltaLikeTable.forPath(spark, path).version === 1)
    assert(state(path) === Seq((1, 1L, 10), (1, 2L, 20), (2, 3L, 30), (2, 4L, 40)))
    assertNoTrace(path)
  }

  test("two sink commits of one (query, batch): exactly one lands") {
    val sp = spark; import sp.implicits._
    val path = fresh()
    DeltaLog.preCommitHook = () =>
      DeltaLikeSink.appendBatch(path, "twin")(Seq((2, 7L, 70)).toDF("k", "id", "n"), 3L)
    DeltaLikeSink.appendBatch(path, "twin")(Seq((2, 8L, 80)).toDF("k", "id", "n"), 3L)
    val t = DeltaLikeTable.forPath(spark, path)
    val carrying = (0L to t.version).filter(v => t.log.actions(v).contains(Txn("twin", 3L)))
    assert(carrying === Seq(1L))
    assert(state(path) ===
      Seq((1, 1L, 10), (1, 2L, 20), (2, 3L, 30), (2, 4L, 40), (2, 7L, 70)))
    assertNoTrace(path)
  }
}

package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Deletion vectors must be INVISIBLE semantics: a DV-enabled table and
  * a plain (rewrite-path) table driven through the same random op
  * sequence must agree on every snapshot, every time-travel read, and —
  * the strong form — on the row-level change feed of every version
  * (both paths express a delete as delete(pre-image) and an update as
  * delete+insert, whether the physical mechanism was an exclusion list
  * or a file rewrite). Seeded random cases, deterministic reruns.
  */
class DvEquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs
  private val Cases = 4
  private val OpsPerCase = 6

  override def beforeAll(): Unit = {
    spark = GraftSession.local("dv-equivalence", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private def rows(r: Range, tag: String): DataFrame = {
    val sp = spark; import sp.implicits._
    r.map(i => (i.toLong, s"$tag$i")).toDF("id", "v")
  }

  private def stateOf(df: DataFrame): Set[(Long, String)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def feedOf(path: String): Set[(Long, String, String, Long)] =
    ChangeReader.changeFeed(spark, path, -1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

  test("random delete/update/append sequences: DV table ≡ rewrite table, incl. CDC") {
    (0 until Cases).foreach { c =>
      val rnd = new scala.util.Random(1000 + c)
      val dvPath = tempDirs(s"dv_eq_dv$c")
      val rwPath = tempDirs(s"dv_eq_rw$c")
      val initial = rows(1 to 200, "v")
      DeltaLikeTable.write(initial.repartition(3), dvPath, enableDeletionVectors = true)
      DeltaLikeTable.write(initial.repartition(3), rwPath)
      val dv = DeltaLikeTable.forPath(spark, dvPath)
      val rw = DeltaLikeTable.forPath(spark, rwPath)

      var nextId = 1000L
      (0 until OpsPerCase).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 => // DELETE a random id range
            val lo = 1 + rnd.nextInt(200)
            val cond = s"id BETWEEN $lo AND ${lo + rnd.nextInt(10)}"
            assert(dv.delete(cond) === rw.delete(cond), s"case $c: delete counts differ")
          case 1 => // UPDATE a random id range
            val lo = 1 + rnd.nextInt(200)
            val cond = expr(s"id BETWEEN $lo AND ${lo + rnd.nextInt(10)}")
            val set = Map("v" -> concat(lit("u"), col("id")))
            dv.update(cond, set); rw.update(cond, set)
          case 2 => // append fresh rows
            val batch = rows(nextId.toInt until nextId.toInt + 5, "a")
            nextId += 5
            DeltaLikeTable.write(batch, dvPath, "append")
            DeltaLikeTable.write(batch, rwPath, "append")
        }
        assert(stateOf(dv.toDF) === stateOf(rw.toDF),
          s"case $c: snapshots diverged at version ${dv.version}")
      }

      assert(dv.version === rw.version, s"case $c: version counts differ")
      // every historical version still reads identically
      (0L to dv.version).foreach { v =>
        assert(stateOf(dv.toDF(v)) === stateOf(rw.toDF(v)),
          s"case $c: time travel to v$v diverged")
      }
      // the strong invariant: identical row-level change history
      assert(feedOf(dvPath) === feedOf(rwPath),
        s"case $c: change feeds diverged")
      // and the DV table actually used vectors somewhere (else the test
      // proves nothing) — at least one delete/update ran on 200+ rows
      val usedDv = (0L to dv.version).exists(v =>
        dv.log.snapshot(v).files.exists(_.deletedRows.nonEmpty))
      val anyMutation = (0L to dv.version).exists(v =>
        dv.log.actions(v).exists {
          case ci: CommitInfo => ci.operation == "DELETE" || ci.operation == "UPDATE"
          case _              => false
        })
      assert(!anyMutation || usedDv, s"case $c: DV path never engaged")
    }
  }
}

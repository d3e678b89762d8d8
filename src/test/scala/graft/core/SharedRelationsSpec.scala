package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The suite-shared build contract: a relation built through
  * [[SharedRelations.relation]] must survive the harness' inter-query
  * unpersist sweep ([[Harness.each]], the loop Bench/Verify run) and stay
  * queryable, while an ordinary localCheckpoint built outside the
  * registry is swept. This is what lets q94/q100/q195/q207 and q45/q173
  * share one materialized build per run. Every entry, pin, timing and
  * owned directory belongs to one application and is gone once it stops
  * — RDD ids restart at 0 per SparkContext, so a pin that outlived its
  * application would shield unrelated RDDs in a later session of the
  * same JVM.
  */
class SharedRelationsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.local("shared-relations-spec", cores = 4)
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("registered checkpoints survive the harness sweep; others are swept") {
    val sp = spark; import sp.implicits._
    val shared = SharedRelations.relation(sp, "spec-shared", "k") {
      (1 to 100).toDF("n")
    }
    val unshared = (1 to 50).toDF("n").localCheckpoint()

    // the loop Bench/Verify run, which sweeps after every query
    val failed = Harness.each(sp, Seq("spec-query")) { _ =>
      assert(shared.count() === 100 && unshared.count() === 50)
    }
    assert(failed.isEmpty, s"query body failed: $failed")

    val persisted = sp.sparkContext.getPersistentRDDs.keySet
    assert(persisted.exists(SharedRelations.isShared(sp, _)),
      "the registered checkpoint's blocks must still be persisted")
    assert(persisted.forall(SharedRelations.isShared(sp, _)),
      "every unregistered checkpoint must be swept")
    // and the shared relation still answers queries after the sweep
    assert(shared.agg(sum(col("n"))).head.getLong(0) === 5050L)
  }

  test("builds are named and timed for the bench's shared:<name> rows") {
    val sp = spark; import sp.implicits._
    SharedRelations.relation(sp, "spec-timed", "k") {
      (1 to 10).toDF("n")
    }
    val secs = SharedRelations.buildSeconds(sp)
    assert(secs.contains("spec-timed") && secs("spec-timed") > 0.0,
      s"build time must be recorded under its name, got $secs")
  }

  test("a relation build pins its final checkpoint, not its intermediates") {
    val sp = spark; import sp.implicits._
    val sc = sp.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var mid = Set.empty[Int]
    val fin = SharedRelations.relation(sp, "spec-final", "k") {
      val step = (1 to 20).toDF("n").localCheckpoint()
      mid = sc.getPersistentRDDs.keySet.toSet -- before
      step.where($"n" % 2 === 0)
    }
    assert(mid.nonEmpty, "the intermediate checkpoint must have been persisted")
    assert(!mid.exists(SharedRelations.isShared(sp, _)))
    assert(sc.getPersistentRDDs.keySet.intersect(mid).isEmpty,
      "the intermediate checkpoint must be unpersisted")
    val pinned = (sc.getPersistentRDDs.keySet -- before).toSet
    assert(pinned.size === 1 && pinned.forall(SharedRelations.isShared(sp, _)))
    assert(fin.count() === 10)
  }

  test("registrations do not alias RDD ids across applications") {
    // RDD ids restart at 0 per SparkContext: ids registered under THIS
    // application must not shield same-numbered RDDs of a different
    // application from the sweep (the sbt test JVM runs many sessions
    // sequentially — exactly the scenario where a bare-id registry
    // reintroduces the dead-checkpoint eviction problem).
    val sp = spark; import sp.implicits._
    var builds = 0
    def memoed(s: SparkSession): Int =
      SharedRelations.memo(s, "spec-memo", "k") { builds += 1; builds }
    SharedRelations.relation(sp, "spec-alias", "k") {
      (1 to 5).toDF("n")
    }
    val (dir, _) = SharedRelations.directory(sp, "spec_dir", "k") { p =>
      java.nio.file.Files.writeString(p.resolve("f"), "x")
    }
    assert(memoed(sp) === 1 && memoed(sp) === 1)
    val sharedIds = sp.sparkContext.getPersistentRDDs.keySet
      .filter(SharedRelations.isShared(sp, _))
    assert(sharedIds.nonEmpty)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "f")))
    val firstApp = sp.sparkContext.applicationId
    assert(SharedRelations.applications.contains(firstApp))
    // a second SEQUENTIAL session in the same JVM (local mode allows one
    // SparkContext at a time, so the first must stop; leave the new one
    // as the suite session for afterAll)
    sp.stop()
    // stopping ends the application: its entries, pins, timings and
    // owned directories are gone
    assert(!SharedRelations.applications.contains(firstApp))
    assert(SharedRelations.buildSeconds(sp).isEmpty)
    assert(!sharedIds.exists(SharedRelations.isShared(sp, _)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)),
      "the stopped application's directory must be deleted")
    spark = GraftSession.local("shared-relations-spec-2", cores = 4)
    assert(spark.sparkContext.applicationId != firstApp)
    // nothing registered under the new application: every id registered
    // under the OLD application must read as NOT shared here, even
    // though fresh RDDs of this context will reuse those id numbers
    assert(!sharedIds.exists(SharedRelations.isShared(spark, _)),
      "ids registered under another application must not be shared here")
    // and the same memo key builds afresh in the new application
    assert(memoed(spark) === 2)
  }
}

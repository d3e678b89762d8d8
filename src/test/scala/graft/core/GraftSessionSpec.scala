package graft.core

import java.lang.management.ManagementFactory

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The session factory sizes every session from the host and its
  * arguments, and the one query loop filters, isolates failures and
  * sweeps dead checkpoints between queries.
  */
class GraftSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.local("graft-session-spec", cores = 3,
      Map("spark.sql.ui.retainedExecutions" -> "7"))
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("factory: local[cores] with shuffle partitions equal to cores") {
    assert(spark.sparkContext.master === "local[3]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
  }

  test("factory: off-heap is the physical memory the heap leaves") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.memory.offHeap.enabled") === "true")
    val offHeap = conf.getSizeAsBytes("spark.memory.offHeap.size")
    val heap = Runtime.getRuntime.maxMemory
    val physical = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize
    val rule = physical - heap
    assert(rule - offHeap >= 0 && rule - offHeap < (1L << 20),
      s"off-heap $offHeap, heap $heap, physical $physical")
    assert(heap + offHeap <= physical, s"heap $heap + off-heap $offHeap > $physical")
  }

  test("factory: an extraConf key overrides the factory default") {
    assert(spark.sparkContext.getConf.get("spark.sql.ui.retainedExecutions") === "7")
    assert(spark.sparkContext.getConf.get("spark.ui.retainedJobs") === "300")
  }

  test("withConf: restores a prior value, unsets an absent key, also on a throw") {
    val set = "spark.sql.shuffle.partitions"
    val absent = "spark.graft.spec.scoped"
    assert(spark.conf.getOption(absent) === None)
    val seen = GraftSession.withConf(spark, Map(set -> "1", absent -> "x")) {
      (spark.conf.get(set), spark.conf.get(absent))
    }
    assert(seen === ("1", "x"))
    assert(spark.conf.get(set) === "3")
    assert(spark.conf.getOption(absent) === None)
    val thrown = intercept[IllegalStateException] {
      GraftSession.withConf(spark, Map(set -> "1", absent -> "x")) {
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage === "body failed")
    assert(spark.conf.get(set) === "3")
    assert(spark.conf.getOption(absent) === None)
  }

  test("Harness.each: runs only the admitted names, each under its job group") {
    val ran = ListBuffer[(String, String)]()
    val errors = Harness.each(spark, Seq("a", "b", "c"), Some(Set("a", "c")), rep = 2) { n =>
      ran += n -> spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    }
    assert(errors.isEmpty)
    assert(ran.toSeq === Seq("a" -> "graftq:a#2", "c" -> "graftq:c#2"))
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") === null)
  }

  test("Harness.each: a throwing query is recorded and the loop goes on") {
    val ran = ListBuffer[String]()
    val errors = Harness.each(spark, Seq("a", "b", "c")) { n =>
      if (n == "b") throw new IllegalStateException("x" * 500)
      ran += n
    }
    assert(ran.toSeq === Seq("a", "c"))
    assert(errors === Seq("b" -> "x" * 300))
  }

  test("Harness.each: the sweep unpersists plain checkpoints and keeps shared ones") {
    val sp = spark; import sp.implicits._
    val sc = sp.sparkContext
    val shared = SharedRelations.relation(sp, "harness-spec", "k") {
      (1 to 100).toDF("n")
    }
    var plain = Set.empty[Int]
    Harness.each(sp, Seq("q")) { _ =>
      val before = sc.getPersistentRDDs.keySet
      assert((1 to 50).toDF("n").localCheckpoint().count() === 50)
      plain = sc.getPersistentRDDs.keySet.toSet -- before
    }
    assert(plain.nonEmpty, "the body's checkpoint must have been persisted")
    assert(sc.getPersistentRDDs.keySet.intersect(plain).isEmpty)
    assert(sc.getPersistentRDDs.keySet.exists(SharedRelations.isShared(sp, _)))
    assert(shared.count() === 100)
  }
}

package graft.tables

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Property: for ANY pushable predicate, scanning only the files
  * [[DataSkipping]] keeps yields the same rows as scanning everything —
  * i.e. skipping is purely an optimization, never a semantics change.
  * Predicates are generated over a seeded grid of shapes × random
  * values, against a table with several files, nulls, and mixed types.
  */
class SkippingPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("skipping-props", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  test("pruned scans equal full scans for random pushable predicates") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("skip_prop")
    val rnd = new scala.util.Random(99)
    val rows = (1 to 2000).map { i =>
      (i.toLong,
        if (i % 13 == 0) null else s"s${rnd.nextInt(50)}",
        rnd.nextDouble() * 1000,
        java.sql.Timestamp.valueOf(
          f"2024-06-${1 + rnd.nextInt(28)}%02d ${rnd.nextInt(24)}%02d:00:00"))
    }
    rows.toDF("id", "s", "x", "ts")
      .repartitionByRange(6, org.apache.spark.sql.functions.col("id"))
      .write.format("deltalike").mode("overwrite").save(path)
    val snap = DeltaLog.forPath(path).snapshot()
    assert(snap.files.size === 6)

    def timestampLit() = java.sql.Timestamp.valueOf(
      f"2024-06-${1 + rnd.nextInt(28)}%02d 12:00:00")
    def predicates(): Seq[Filter] = Seq(
      EqualTo("id", rnd.nextLong(2500).asInstanceOf[Any]),
      GreaterThan("id", rnd.nextLong(2500)),
      LessThanOrEqual("id", rnd.nextLong(2500)),
      EqualTo("s", s"s${rnd.nextInt(60)}"),
      GreaterThan("x", rnd.nextDouble() * 1200),
      LessThan("ts", timestampLit()),
      In("id", Array.fill(4)(rnd.nextLong(2500).asInstanceOf[Any])),
      IsNull("s"), IsNotNull("s"),
      And(GreaterThan("id", rnd.nextLong(2000)), LessThan("x", rnd.nextDouble() * 800)),
      Or(EqualTo("id", rnd.nextLong(2500)), GreaterThan("ts", timestampLit())))

    def rowsOf(files: Seq[AddFile], filter: org.apache.spark.sql.Column): Set[String] =
      DeltaLikeTable.readSnapshot(spark, snap.copy(files = files))
        .where(filter).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSet

    (1 to 8).foreach { round =>
      predicates().foreach { f =>
        val pruned = DataSkipping.prune(snap, Seq(f))
        val colF = filterToColumn(f)
        val got = rowsOf(pruned, colF)
        val want = rowsOf(snap.files, colF)
        assert(got === want,
          s"round $round filter $f: pruned scan lost/gained rows " +
            s"(kept ${pruned.size}/${snap.files.size} files)")
      }
    }
  }

  test("integral In fast path: large probe sets prune correctly and tightly") {
    val sp = spark; import sp.implicits._
    val path = tempDirs("skip_in")
    (1 to 4000).map(i => (i.toLong, i % 7))
      .toDF("id", "g")
      .repartitionByRange(8, org.apache.spark.sql.functions.col("id"))
      .write.format("deltalike").mode("overwrite").save(path)
    val snap = DeltaLog.forPath(path).snapshot()
    assert(snap.files.size === 8)
    def rowsOf(files: Seq[AddFile], f: Filter): Set[Long] =
      DeltaLikeTable.readSnapshot(spark, snap.copy(files = files))
        .where(filterToColumn(f)).collect().map(_.getLong(0)).toSet
    val rnd = new scala.util.Random(41)
    // random probe sets of the size the banded index actually sends
    // (thousands of values) — pruned scan must equal the full scan
    (1 to 3).foreach { round =>
      val f = In("id", Array.fill(500)(rnd.nextLong(5000).asInstanceOf[Any]))
      val pruned = DataSkipping.prune(snap, Seq(f))
      assert(rowsOf(pruned, f) === rowsOf(snap.files, f), s"round $round")
    }
    // a CLUSTERED probe set must actually drop files (the point of the
    // banded layout: range-partitioned files + point probes = skips)
    val clustered = In("id", (1L to 400L).map(_.asInstanceOf[Any]).toArray)
    val kept = DataSkipping.prune(snap, Seq(clustered))
    assert(kept.size < snap.files.size,
      s"clustered probe kept ${kept.size}/${snap.files.size} files")
    assert(rowsOf(kept, clustered) === rowsOf(snap.files, clustered))
    // fractional probes over an integral column: truncation may only
    // OVER-keep, never lose a row (and 2.5 matches nothing anyway)
    val frac = In("id", Array[Any](2.5d, 100L))
    assert(rowsOf(DataSkipping.prune(snap, Seq(frac)), frac)
      === rowsOf(snap.files, frac))
  }

  /** Mirror of the source's filter→Column mapping, for driving the scan. */
  private def filterToColumn(f: Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v)            => col(a) === lit(v)
      case GreaterThan(a, v)        => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v)           => col(a) < lit(v)
      case LessThanOrEqual(a, v)    => col(a) <= lit(v)
      case In(a, vs)                => col(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a)                => col(a).isNull
      case IsNotNull(a)             => col(a).isNotNull
      case And(l, r)                => filterToColumn(l) && filterToColumn(r)
      case Or(l, r)                 => filterToColumn(l) || filterToColumn(r)
      case other => throw new IllegalArgumentException(other.toString)
    }
  }
}

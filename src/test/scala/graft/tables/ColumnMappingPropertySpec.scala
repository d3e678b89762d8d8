package graft.tables

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Randomized equivalence: arbitrary interleavings of RENAME COLUMN /
  * DROP COLUMN / append / additive evolution must keep the table's
  * contents equal to a trivial in-memory model. Catches mapping-state
  * corruption (stale physical names, resurrection of dropped data,
  * stats drift) that example-based tests would miss.
  */
class ColumnMappingPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("colmap-prop-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  /** The model: column names + rows as name→value maps (None = null). */
  private case class Model(cols: Vector[String], rows: Vector[Map[String, Long]])

  import scala.jdk.CollectionConverters._

  private def toDf(cols: Seq[String], rows: Seq[Map[String, Long]]) = {
    val schema = StructType(cols.map(c => StructField(c, LongType, nullable = true)))
    val data = rows.map(m => Row.fromSeq(cols.map(c => m.get(c).map(Long.box).orNull)))
    spark.createDataFrame(data.asJava, schema)
  }

  private def observed(t: DeltaLikeTable): (Vector[String], Vector[Map[String, Long]]) = {
    val df = t.toDF
    val cols = df.schema.fieldNames.toVector
    val rows = df.collect().toVector.map(r =>
      cols.zipWithIndex.collect {
        case (c, i) if !r.isNullAt(i) => c -> r.getLong(i)
      }.toMap)
    (cols, rows)
  }

  test("random rename/drop/append/evolve sequences match the model") {
    (1 to 3).foreach { run =>
      val rnd = new scala.util.Random(9000 + run)
      val path = tempDirs(s"cm_prop_$run")
      var nextCol = 3
      var nextRow = 0
      def freshRows(cols: Vector[String], n: Int): Vector[Map[String, Long]] =
        Vector.fill(n) {
          nextRow += 1
          cols.map(c => c -> (nextRow * 1000L + c.hashCode % 997)).toMap
        }

      var model = Model(Vector("c0", "c1", "c2"), Vector.empty)
      model = model.copy(rows = freshRows(model.cols, 5))
      DeltaLikeTable.write(toDf(model.cols, model.rows), path)
      val t = DeltaLikeTable.forPath(spark, path)

      (1 to 25).foreach { step =>
        rnd.nextInt(4) match {
          case 0 => // rename a random column
            val i = rnd.nextInt(model.cols.size)
            val from = model.cols(i); val to = s"c$nextCol"; nextCol += 1
            t.renameColumn(from, to)
            model = Model(
              model.cols.updated(i, to),
              model.rows.map(r => r.get(from).fold(r - from)(v => r - from + (to -> v))))
          case 1 if model.cols.size > 1 => // drop a random column
            val i = rnd.nextInt(model.cols.size)
            val c = model.cols(i)
            t.dropColumn(c)
            model = Model(model.cols.patch(i, Nil, 1), model.rows.map(_ - c))
          case 2 => // append rows in the current schema
            val rows = freshRows(model.cols, 1 + rnd.nextInt(3))
            DeltaLikeTable.write(toDf(model.cols, rows), path, mode = "append")
            model = model.copy(rows = model.rows ++ rows)
          case _ => // additive evolution: append with one extra column
            val c = s"c$nextCol"; nextCol += 1
            val cols = model.cols :+ c
            val rows = freshRows(cols, 2)
            DeltaLikeTable.write(toDf(cols, rows), path,
              mode = "append", mergeSchema = true)
            model = Model(cols, model.rows ++ rows)
        }
        val (obsCols, obsRows) = observed(t)
        assert(obsCols.sorted === model.cols.sorted, s"run $run step $step: columns")
        assert(obsRows.groupBy(identity).view.mapValues(_.size).toMap ===
          model.rows.groupBy(identity).view.mapValues(_.size).toMap,
          s"run $run step $step: contents diverged from the model")
      }
    }
  }
}

package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent content hash of a relation: the
  * canonical form of `tools/compare.py` (columns sorted by name, floats
  * rounded to 1e-6, -0.0 folded into 0.0), hashed per row with `xxhash64`
  * and summed exactly as a decimal, so row order and partitioning never
  * change the digest. Computing it executes the whole plan, every output
  * column included.
  */
final case class Digest(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.sortBy(_.name.toLowerCase).map(f => canon(col(s"`${f.name}`"), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(rowHash.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    Digest(r.getLong(0), r.getDecimal(1).toBigInteger.toString(16))
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType =>
      val r = round(c.cast(DoubleType), 6)
      when(r === 0.0, lit(0.0)).otherwise(r)
    case _: DecimalType => canon(c.cast(DoubleType), DoubleType)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }
}

/** Small filesystem helpers over the benchmark's own output tree. */
object Fs {
  import java.nio.file.{Files => JFiles, Path, Paths}
  import scala.jdk.CollectionConverters._

  private def walk(p: Path): Seq[Path] =
    if (!JFiles.exists(p)) Nil
    else { val s = JFiles.walk(p); try s.iterator().asScala.toList finally s.close() }

  def treeBytes(path: String): Long =
    walk(Paths.get(path)).filter(JFiles.isRegularFile(_)).map(JFiles.size).sum

  def delete(path: String): Unit =
    walk(Paths.get(path)).reverse.foreach(JFiles.deleteIfExists)

  def copy(src: String, dst: String): Unit = {
    val s = Paths.get(src); val d = Paths.get(dst)
    walk(s).foreach { p =>
      val t = d.resolve(s.relativize(p))
      if (JFiles.isDirectory(p)) JFiles.createDirectories(t) else JFiles.copy(p, t)
    }
  }

  /** Files under `path` whose name passes `keep`. */
  def files(path: String)(keep: String => Boolean): Seq[Path] =
    walk(Paths.get(path)).filter(p => JFiles.isRegularFile(p) && keep(p.getFileName.toString))
}

package graft
import graft.core.{GraftSession, Harness}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("verify")
    new java.io.File(outDir).mkdirs()
    val failed = Harness.each(spark, SparkEntry.queries.keys.toSeq, Harness.onlyFromEnv) { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    failed.foreach { case (n, m) => System.err.println(s"[verify] $n failed: $m") }
    // failures summarized on STDOUT too: interleaved stderr lines alone
    // go unnoticed, and a missing dump silently shrinks the compare
    if (failed.nonEmpty) {
      println(s"[verify] FAILED ${failed.size} queries (no parquet written):")
      failed.foreach { case (n, m) => println(s"[verify]   $n: $m") }
    } else println("[verify] all queries dumped OK")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-declared file sources (SURVEY.md §2.A1/A2).
  *
  * The reference never infers schemas: it reads CSV with an explicit DDL
  * string, `header=True` only to skip the header row, and a non-default
  * `;` separator (`/root/reference/sparkcode/titanic_example_delta.py:18-22`).
  * Declared schemas are also the scale-correct choice — inference costs
  * an extra pass over the data and can mis-type columns on a sample.
  */
object Sources {

  /** CSV directory/file → DataFrame with an explicit DDL schema.
    * Defaults mirror the reference: header row skipped, `;` separator.
    */
  def csv(
      spark: SparkSession,
      path: String,
      ddl: String,
      sep: String = ";",
      header: Boolean = true): DataFrame =
    spark.read
      .schema(StructType.fromDDL(ddl))
      .option("header", header.toString)
      .option("sep", sep)
      .csv(path)

  /** Parquet with a declared schema (skips footer merging at planning
    * time and pins reader types at scale).
    */
  def parquet(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(StructType.fromDDL(ddl)).parquet(path)

  /** JSON-lines with a declared schema (no sampling pass). */
  def jsonLines(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(StructType.fromDDL(ddl)).json(path)

  /** Declared q80: JSONL ingestion proven lossless end-to-end — the
    * documents table is written as JSON lines, read back through the
    * schema-declared [[jsonLines]] source (the web-scrape ingest
    * format), and summarized per language with an md5-derived content
    * checksum. The oracle computes the same summary from the parquet
    * original, so any encode/decode corruption (escaping, unicode,
    * type coercion) breaks the hash compare.
    */
  def q80JsonlRoundtrip(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = graft.core.SharedRelations.scratch(spark, "jsonl").toString
    graft.core.Tables.documents(spark, d)
      .write.mode("overwrite").json(tmp)
    jsonLines(spark, tmp,
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long"))
          .as("text_checksum"))
  }

  val q80Sql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      | CAST(sum(('0x' || substring(md5(text), 1, 12))::BIGINT) AS BIGINT) AS text_checksum
      |FROM documents GROUP BY lang""".stripMargin

  /** ORC with a declared schema — same contract as [[parquet]]. */
  def orc(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(StructType.fromDDL(ddl)).orc(path)

  /** Declared q97: ORC ingestion proven lossless end-to-end, the same
    * round-trip oracle as q80 (JSONL) — the documents table is written
    * as ORC, read back through the schema-declared [[orc]] source, and
    * summarized per language with an md5 content checksum the oracle
    * recomputes from the parquet original. DuckDB cannot read ORC, so
    * the checksum-against-original design is what makes a second
    * columnar format oracle-checkable at all.
    */
  def q97OrcRoundtrip(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = graft.core.SharedRelations.scratch(spark, "orc").toString
    graft.core.Tables.documents(spark, d)
      .write.mode("overwrite").orc(tmp)
    orc(spark, tmp,
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long"))
          .as("text_checksum"))
  }

  val q97Sql: String = q80Sql
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{SharedRelations, Tables}
import graft.tables.DeltaLikeTable

/** Versioned-table (deltalike) behaviors declared as oracle-checked
  * queries: the reference's overwrite→merge→read/time-travel sequence
  * (`/root/reference/sparkcode/titanic_example_delta.py:25-70`) replayed
  * on the `customer` fixture so DuckDB can recompute the expected
  * relation with plain SQL (SURVEY.md §5.1: anti-join + union).
  */
object Versioned {

  /** Deterministic merge source: first 10 customers with zeroed balance
    * (update arm) + two synthetic rows (insert arm).
    */
  private def mergeSource(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val updates = Tables.customer(spark, d)
      .where(col("c_custkey") <= 10)
      .withColumn("c_acctbal", lit(0.0))
    val inserts = Seq(
      (9000001L, "Customer#9000001", 1, 111.1, "BUILDING"),
      (9000002L, "Customer#9000002", 2, 222.2, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    updates.union(inserts)
  }

  /** Overwrite customer as v0 into a fresh application-owned scratch dir
    * `graft_<prefix>…`, MERGE the deterministic source as v1, and return
    * the table path. The dir outlives the call because the caller's
    * result reads it lazily.
    */
  private def mergedCustomer(spark: SparkSession, d: String, prefix: String): String = {
    val path = SharedRelations.scratch(spark, prefix).toString
    DeltaLikeTable.write(Tables.customer(spark, d), path, "overwrite")
    DeltaLikeTable.forPath(spark, path).as("old")
      .merge(mergeSource(spark, d).as("new"), "old.c_custkey = new.c_custkey")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    path
  }

  /** Overwrite customer as v0, MERGE the deterministic source, return the
    * post-merge snapshot (B1+B2+B4 in one verifiable relation).
    */
  def q26MergeUpsert(spark: SparkSession, d: String): DataFrame =
    spark.read.format("deltalike").load(mergedCustomer(spark, d, "merge"))

  val q26Sql: String =
    """SELECT c_custkey, c_name, c_nationkey, CAST(0.0 AS DOUBLE) AS c_acctbal,
      | c_mktsegment FROM customer WHERE c_custkey <= 10
      |UNION ALL
      |SELECT * FROM customer WHERE c_custkey > 10
      |UNION ALL
      |SELECT * FROM (VALUES
      | (CAST(9000001 AS BIGINT), 'Customer#9000001', 1, 111.1, 'BUILDING'),
      | (CAST(9000002 AS BIGINT), 'Customer#9000002', 2, 222.2, 'MACHINERY'))
      | t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)""".stripMargin

  /** Same write+merge, then a `versionAsOf 0` read — time travel must see
    * the pre-merge table unchanged (B5).
    */
  def q27TimeTravel(spark: SparkSession, d: String): DataFrame =
    spark.read.format("deltalike").option("versionAsOf", "0")
      .load(mergedCustomer(spark, d, "tt"))

  val q27Sql: String = "SELECT * FROM customer"

  /** Same overwrite+MERGE, then the ROW-LEVEL change feed of the merge
    * version (CDC across a rewriting commit,
    * [[graft.tables.ChangeReader.changeFeed]]): each genuinely updated
    * customer surfaces as delete(pre-image) + insert(post-image), each
    * new customer as one insert, and rows the rewrite merely copied
    * surface zero times — including matched rows the update left
    * bit-identical (acctbal already 0), which the multiset diff cancels.
    */
  def q55ChangeFeed(spark: SparkSession, d: String): DataFrame =
    graft.tables.ChangeReader.changeFeed(spark, mergedCustomer(spark, d, "cdc"), 0)
      .select(col("c_custkey"), col("c_acctbal"),
        col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"))

  val q55Sql: String =
    """SELECT c_custkey, CAST(0.0 AS DOUBLE) AS c_acctbal,
      | 'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version
      |FROM customer WHERE c_custkey <= 10 AND c_acctbal <> 0.0
      |UNION ALL
      |SELECT c_custkey, c_acctbal, 'delete', CAST(1 AS BIGINT)
      |FROM customer WHERE c_custkey <= 10 AND c_acctbal <> 0.0
      |UNION ALL
      |SELECT * FROM (VALUES
      | (CAST(9000001 AS BIGINT), 111.1, 'insert', CAST(1 AS BIGINT)),
      | (CAST(9000002 AS BIGINT), 222.2, 'insert', CAST(1 AS BIGINT)))
      | t(c_custkey, c_acctbal, change_type, commit_version)""".stripMargin

  /** Same overwrite+MERGE as q27, but the v0 read is PURE SQL through
    * Spark's own temporal grammar (`VERSION AS OF`), resolved by
    * [[graft.tables.DeltalikeMergeRule]] — the SQL-first spelling of
    * time travel a read-only user types first (B5 over the SQL
    * surface, not the DataFrame API).
    */
  def q93SqlTimeTravel(spark: SparkSession, d: String): DataFrame =
    spark.sql(s"SELECT * FROM deltalike.`${mergedCustomer(spark, d, "sqltt")}` VERSION AS OF 0")

  val q93Sql: String = "SELECT * FROM customer"

  /** Population-stability index between two table VERSIONS — the drift
    * monitor a production corpus feed runs after every ingest: write
    * the corpus as v0, append a batch (v1), and compare each source's
    * document-length distribution between `versionAsOf 0` and the
    * latest snapshot. PSI = Σ_buckets (p1−p0)·ln(p1/p0) over
    * Laplace-smoothed bucket shares (smoothing keeps buckets that
    * exist in only one version finite; the bucket set is the union of
    * both versions per source, so the metric is symmetric in support).
    * This composes the table layer (time travel) with the analytics
    * layer — the question it answers ("did the append shift the
    * distribution?") cannot be asked without versioning.
    *
    * Shape at scale: two snapshot scans reduce IMMEDIATELY to
    * (source × bucket) count relations — tiny — and everything after
    * (full outer join, totals, PSI) is metadata-sized. Appending 1%
    * to a 100 TB table costs two aggregates, not a diff of rows.
    */
  def q92VersionDrift(spark: SparkSession, d: String): DataFrame = {
    val path = SharedRelations.scratch(spark, "drift").toString
    val base = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
    DeltaLikeTable.write(base.where(col("doc_id") % 5 < 3), path, "overwrite")
    DeltaLikeTable.write(base.where(col("doc_id") % 5 >= 3), path, "append")
    def dist(df: DataFrame, cn: String) = df
      .select(col("source"),
        floor(col("n_chars") / 50).cast("long").as("bucket"))
      .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as(cn))
    val d0 = dist(spark.read.format("deltalike")
      .option("versionAsOf", "0").load(path), "c0")
    val d1 = dist(spark.read.format("deltalike").load(path), "c1")
    val j = d0.join(d1, Seq("source", "bucket"), "full_outer")
      .select(col("source"), col("bucket"),
        coalesce(col("c0"), lit(0L)).as("c0"),
        coalesce(col("c1"), lit(0L)).as("c1"))
    val t = j.groupBy(col("source")).agg(
      sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
      count(lit(1)).as("b"))
    val p0 = (col("c0") + 1).cast("double") / (col("n0") + col("b")).cast("double")
    val p1 = (col("c1") + 1).cast("double") / (col("n1") + col("b")).cast("double")
    j.join(t, Seq("source"))
      .groupBy(col("source"), col("b").as("n_buckets"))
      .agg(sum((p1 - p0) * log(p1 / p0)).as("psi"))
  }

  /** Oracle: v0 is the deterministic 60% slice, v1 the whole fixture —
    * DuckDB recomputes both distributions from the parquet directly.
    */
  val q92Sql: String =
    """WITH v0 AS (
      |  SELECT source, CAST(floor(n_chars / 50) AS BIGINT) AS bucket
      |  FROM documents WHERE doc_id % 5 < 3),
      |v1 AS (
      |  SELECT source, CAST(floor(n_chars / 50) AS BIGINT) AS bucket
      |  FROM documents),
      |d0 AS (SELECT source, bucket, count(*) AS c0 FROM v0 GROUP BY 1, 2),
      |d1 AS (SELECT source, bucket, count(*) AS c1 FROM v1 GROUP BY 1, 2),
      |j AS (
      |  SELECT coalesce(d0.source, d1.source) AS source,
      |    coalesce(d0.bucket, d1.bucket) AS bucket,
      |    coalesce(c0, 0) AS c0, coalesce(c1, 0) AS c1
      |  FROM d0 FULL OUTER JOIN d1
      |    ON d0.source = d1.source AND d0.bucket = d1.bucket),
      |t AS (
      |  SELECT source, CAST(sum(c0) AS BIGINT) AS n0,
      |    CAST(sum(c1) AS BIGINT) AS n1, count(*) AS b
      |  FROM j GROUP BY 1)
      |SELECT j.source, t.b AS n_buckets,
      |  sum(((c1 + 1) / CAST(n1 + b AS DOUBLE) - (c0 + 1) / CAST(n0 + b AS DOUBLE))
      |    * ln(((c1 + 1) / CAST(n1 + b AS DOUBLE))
      |        / ((c0 + 1) / CAST(n0 + b AS DOUBLE)))) AS psi
      |FROM j JOIN t USING (source) GROUP BY 1, 2""".stripMargin
}

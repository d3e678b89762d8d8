package graft.core

import org.apache.spark.sql.SparkSession

/** The one query loop the entry points (Bench, Verify, QueryTimer,
  * Explain) run their queries through.
  */
object Harness {
  /** `SPARK_GRAFT_ONLY=q1,q2`: the subset a local run is limited to;
    * unset means every query.
    */
  def onlyFromEnv: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  /** Runs `body` once per name in `queries` (in order) that `only`
    * admits, and returns the failures in order as (name, first 300
    * chars of the message). Per query:
    *
    *   - the job group is `graftq:<name>#<rep>`, so listeners can bill
    *     task metrics to one run of one query (SQLExecution propagates
    *     it onto AQE/broadcast threads);
    *   - a throw is recorded and the loop goes on with the next query;
    *   - afterwards every persisted RDD not registered in
    *     [[SharedRelations]] is unpersisted, BLOCKING. A query's
    *     `localCheckpoint` blocks are dead once it returns, but stay in
    *     the block manager until unpersisted; left there across hundreds
    *     of runs they evict live shuffle/storage memory. An async sweep
    *     only posts removal messages, so under a backed-up dispatcher the
    *     blocks were still resident when the next query started.
    */
  def each(spark: SparkSession, queries: Seq[String],
      only: Option[Set[String]] = None, rep: Int = 1)
      (body: String => Unit): Seq[(String, String)] =
    queries.filter(n => only.forall(_.contains(n))).flatMap { name =>
      val sc = spark.sparkContext
      sc.setJobGroup(s"graftq:$name#$rep", name)
      try { body(name); None }
      catch { case e: Throwable =>
        Some(name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      } finally {
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!SharedRelations.isShared(spark, id)) rdd.unpersist(blocking = true)
        }
        sc.clearJobGroup()
      }
    }
}

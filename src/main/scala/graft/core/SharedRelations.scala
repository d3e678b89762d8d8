package graft.core

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry of builds shared across queries of one session: the BM25
  * scores q94/q100/q195/q207 rank, the corpus prediction of q45/q173, the
  * PQ codebooks, the seeded tables and replay directories of the
  * streaming rows, and Dedup's strategy decision.
  *
  * Lifetime invariant: one entry per (application, name, key), built on
  * first use and gone when the application ends. A listener registered on
  * the application's first build drops its entries, pinned RDD ids and
  * build timings, and deletes the directories it owns, on
  * `onApplicationEnd` — which `SparkContext.stop()` posts, and which
  * Spark's own shutdown hook therefore also posts on JVM exit. Keying by
  * application matters because RDD ids restart at 0 per SparkContext: in
  * a JVM that runs sessions one after another (the sbt test fork does) a
  * bare-id registry would shield fresh, unrelated RDDs from the sweep.
  *
  * Relation builds are pinned: the Bench/Verify harnesses unpersist every
  * persisted RDD between queries, except the ids [[isShared]] names.
  * Entries are index-sized (queries × matched docs for BM25, 40 centroid
  * rows for the codebooks), never corpus-sized.
  *
  * Relation and directory builds are timed under their name, so the
  * bench reports each one-time cost as its own `shared:<name>` row
  * instead of hiding it in rep 1 of whichever query pays first.
  *
  * A build runs outside the registry's lock, so it may itself use the
  * registry. Two threads racing on one key may both build; the first to
  * finish wins and the loser's pins and directory live until the
  * application ends (the harnesses run one query at a time).
  */
object SharedRelations {
  private final class App {
    val entries = mutable.Map.empty[(String, Any), Any]
    val pinned = mutable.Set.empty[Int]
    val seconds = mutable.Map.empty[String, Double]
    val dirs = mutable.ListBuffer.empty[Path]
  }

  private val apps = mutable.Map.empty[String, App]

  /** The application's state, registering its end-of-application
    * eviction on first use.
    */
  private def app(spark: SparkSession): App = synchronized {
    val sc = spark.sparkContext
    val id = sc.applicationId
    apps.getOrElseUpdate(id, {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          evict(id)
      })
      new App
    })
  }

  private def evict(id: String): Unit = {
    val gone = synchronized(apps.remove(id))
    gone.foreach(_.dirs.foreach { dir =>
      if (Files.exists(dir)) {
        val s = Files.walk(dir)
        try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally s.close()
      }
    })
  }

  private def existing(spark: SparkSession): Option[App] =
    synchronized(apps.get(spark.sparkContext.applicationId))

  /** Applications that hold registry state. */
  private[core] def applications: Set[String] = synchronized(apps.keySet.toSet)

  /** RDD ids (within the session's application) the inter-query sweeps
    * must not unpersist.
    */
  def isShared(spark: SparkSession, id: Int): Boolean =
    existing(spark).exists(a => a.synchronized(a.pinned(id)))

  /** Wall-clock seconds each named shared build cost in this
    * application — the bench folds these into its total as
    * `shared:<name>` rows. Read it before `stop()`: the application's
    * timings are dropped when it ends.
    */
  def buildSeconds(spark: SparkSession): Map[String, Double] =
    existing(spark).fold(Map.empty[String, Double])(a => a.synchronized(a.seconds.toMap))

  /** The value of `build` for (name, key) in this application, built on
    * first use. Untimed: for decisions and other driver-side values.
    */
  def memo[T](spark: SparkSession, name: String, key: Any)(build: => T): T = {
    val a = app(spark)
    a.synchronized(a.entries.get((name, key))).getOrElse {
      val v = build
      a.synchronized(a.entries.getOrElseUpdate((name, key), v))
    }.asInstanceOf[T]
  }

  /** `memo` that also adds the build's wall-clock to `name`'s timing
    * (summed if two keys share a name in one application).
    */
  private def timed[T](spark: SparkSession, name: String, key: Any)(build: => T): T =
    memo(spark, name, key) {
      val t0 = System.nanoTime()
      val v = build
      val secs = (System.nanoTime() - t0) / 1e9
      val a = app(spark)
      a.synchronized(a.seconds(name) = a.seconds.getOrElse(name, 0.0) + secs)
      v
    }

  /** A shared relation: the DataFrame `build` returns is checkpointed
    * eagerly and only that checkpoint is pinned; every other RDD the
    * build persisted (a Lloyd loop's per-round checkpoints, say) is
    * unpersisted, since the final checkpoint no longer needs its parents.
    */
  def relation(spark: SparkSession, name: String, key: Any)(
      build: => DataFrame): DataFrame =
    timed(spark, name, key) {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val raw = build
      val mid = sc.getPersistentRDDs.keySet
      val fin = raw.localCheckpoint()
      (mid -- before).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      val a = app(spark)
      a.synchronized(a.pinned ++= sc.getPersistentRDDs.keySet -- before)
      fin
    }

  /** A shared directory: a fresh temp dir `graft_<name>…`, owned by the
    * registry and deleted when the application ends, filled once by
    * `fill`. Returns its path and whatever `fill` returned.
    */
  def directory[T](spark: SparkSession, name: String, key: Any)(
      fill: Path => T): (String, T) =
    timed(spark, name, key) {
      val dir = Files.createTempDirectory(s"graft_$name")
      val a = app(spark)
      a.synchronized(a.dirs += dir)
      (dir.toString, fill(dir))
    }
}

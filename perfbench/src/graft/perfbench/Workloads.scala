package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A workload: set-up (timed by the harness), then whole passes of ops
  * issued back to back: one untimed warm-up pass, the timed passes and,
  * in a traced run, one traced pass. Each pass starts from the same state.
  */
trait Workload {
  def setup(h: Harness, dir: String): Unit
  def preparePass(h: Harness): Unit = ()
  def pass(h: Harness): Unit
  def checkPass(h: Harness): Unit = ()
  def finish(h: Harness): Unit = ()
}

object Workloads {
  val GraphQueries = Seq("q154_jaccard_links", "q107_triangles", "q194_clustering_coef", "q209_ktruss")

  /** Fixed data seed of the graph workload: its goldens are recorded
    * against this data, and `--seed` only orders the ops.
    */
  val DataSeed = 42L

  def apply(name: String): Workload = name match {
    case "graph_jaccard" =>
      new QuerySet(name, "graph", GraphQueries, sf = 0.005, smokeSf = 0.001)
    case "pipeline_dag" => new PipelineDag
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A well-spread RNG seed from (run seed, salt): adjacent run seeds
    * must not give correlated first draws.
    */
  def mix(seed: Long, salt: Long): Long = scala.util.hashing.byteswap64(seed * 0x9E3779B97F4A7C15L + salt)

  def readGoldens(path: String, workload: String): Map[String, String] =
    if (path.isEmpty || !new java.io.File(path).exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().map(_.split("\t")).collect {
        case Array(w, q, d) if w == workload => q -> d
      }.toMap finally src.close()
    }
}

/** Declared engine queries over generated fixture-shaped tables; each op
  * runs one query to its digest and compares it with the recorded golden
  * (`record_goldens.py` records them with `--record`).
  */
final class QuerySet(name: String, kind: String, queries: Seq[String], sf: Double, smokeSf: Double)
    extends Workload {
  private var dir: String = _
  private var goldens: Map[String, String] = Map.empty
  private var active: Seq[String] = queries
  val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def setup(h: Harness, d: String): Unit = {
    dir = d
    val scale = if (h.args.smoke) smokeSf else sf
    val sizes = new Gen(h.spark, Workloads.DataSeed).writeOrderTables(d, scale)
    h.info("input") = Map("sf" -> scale, "data_seed" -> Workloads.DataSeed,
      "tables" -> sizes.map { case (t, (r, b)) => t -> Map("rows" -> r, "bytes" -> b) })
    goldens = Workloads.readGoldens(h.args.goldens, s"$name@$scale")
    if (h.args.smoke) active = queries.take(3)
  }

  private def run(h: Harness, q: String): Option[String] = {
    val d = Digest.of(graft.SparkEntry.queries(q)(h.spark, dir)).toString
    digests(q) = d
    goldens.get(q) match {
      case Some(g) if g == d => None
      case Some(g) => Some(s"digest $d != golden $g")
      case None => if (h.args.record) None else Some("no golden recorded")
    }
  }

  /** Dumps each result and its oracle SQL for record_goldens.py. */
  private def dump(h: Harness, q: String): Unit = {
    val rec = s"${h.args.work}/record"
    graft.SparkEntry.queries(q)(h.spark, dir).write.mode("overwrite").parquet(s"$rec/$q")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(rec, s"$q.sql"),
      graft.SparkEntry.oracleSql.getOrElse(q, ""))
  }

  def pass(h: Harness): Unit = {
    val order = new Random(Workloads.mix(h.args.seed, h.pass)).shuffle(active)
    order.foreach { q =>
      h.op(kind, q)(run(h, q))
      h.sweep()
      if (h.args.record) dump(h, q)
    }
  }

  override def finish(h: Harness): Unit = {
    h.info("digests") = digests
    h.info("dir") = dir
  }
}

/** The reference pipeline scaled up: a seeded titanic-shaped `;`-CSV read
  * through `Sources.csv`, overwritten as v0, then K upsert batches shaped
  * like the reference's (IN-filter, withColumn, union of new ids, MERGE
  * with UpdateAll/InsertAll), each followed by a predicate read of the
  * latest version and a time-travel read of a seeded older version, and
  * finally a symlink manifest: the ETL branch of [[PipelineDag]]. One op
  * is one batch: MERGE + latest read + time-travel read.
  */
final class VersionedEtl {
  import graft.tables.{DataSkipping, DeltaLikeTable, DeltaLog}
  import org.apache.spark.sql.sources.{GreaterThan, LessThan, Or}

  private val Ddl =
    "PassengerId INT, Survived INT, Pclass INT, Name STRING, Sex STRING, " +
      "Age DOUBLE, SibSp INT, Parch INT, Ticket STRING, Fare DOUBLE, " +
      "Cabin STRING, Embarked STRING"
  private var n = 0L
  private var k = 0
  def batchCount: Int = k
  private val Updates = 100
  private val Inserts = 50
  private var csv: String = _
  private var work: String = _
  private var gen: Gen = _
  /** Per batch: the ids it updates and the [lo, hi) id range it inserts. */
  private var batches: Seq[(Seq[Int], (Long, Long))] = Nil
  private var lo, hi = 0
  private var tablePath: String = _
  private var travelDigests = Map.empty[Long, String]
  /** Batches the current pass runs (fewer in the warm-up pass). */
  private var ran = 0

  private def pred = col("PassengerId") < lo || col("PassengerId") > hi

  def setup(h: Harness, dir: String): Unit = {
    n = if (h.args.smoke) 2000 else 3000
    k = if (h.args.smoke) 3 else 11 // 11 merges put a log checkpoint at v10
    work = dir
    gen = new Gen(h.spark, h.args.seed)
    csv = s"$dir/titanic_csv"
    gen.titanic(1, n + 1).coalesce(1).write.option("sep", ";").option("header", "true").csv(csv)
    val rnd = new Random(Workloads.mix(h.args.seed, 0))
    var next = n + 1
    batches = (1 to k).map { b =>
      // half the updates hit the last few batches' inserts, half the base rows
      val recent = (math.max(n + 1, next - 3 * Inserts) until next).map(_.toInt)
      val fromRecent = rnd.shuffle(recent).take(if (recent.isEmpty) 0 else Updates / 2)
      val fromBase = Iterator.continually(1 + rnd.nextInt(n.toInt)).distinct
        .take(Updates - fromRecent.size).toSeq
      val ins = (next, next + Inserts)
      next += Inserts
      ((fromRecent ++ fromBase).distinct, ins)
    }
    lo = (n * 0.02).toInt
    hi = (n * 0.98).toInt
    h.info("etl_input") = Map("csv_rows" -> n, "csv_bytes" -> Fs.treeBytes(csv), "batches" -> k,
      "updates_per_batch" -> Updates, "inserts_per_batch" -> Inserts)
  }

  private def source(base: DataFrame, b: Int): DataFrame = {
    val (upd, (a, z)) = batches(b)
    base.where(col("PassengerId").isin(upd: _*)).withColumn("Survived", lit(b % 2))
      .unionByName(gen.titanic(a, z, s"b$b"))
  }

  private def batch(h: Harness, b: Int): Option[String] = {
    val t = DeltaLikeTable.forPath(h.spark, tablePath)
    h.timed("merge", "tables.merge_s") {
      t.as("old").merge(source(t.toDF, b).as("new"), "old.PassengerId = new.PassengerId")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    }
    val v = DeltaLog.forPath(tablePath).latestVersion
    val latest = h.timed("read", "tables.read_s") {
      Digest.of(DeltaLikeTable.forPath(h.spark, tablePath).toDF.where(pred)).toString
    }
    travelDigests += v -> latest
    val old = new Random(Workloads.mix(h.args.seed, v)).nextInt(v.toInt).toLong
    val back = h.timed("travel", "tables.travel_s") {
      Digest.of(h.spark.read.format("deltalike").option("versionAsOf", old).load(tablePath).where(pred)).toString
    }
    if (h.traced) probes(h, old)
    if (back == travelDigests(old)) None else Some(s"travel to v$old read $back, wrote ${travelDigests(old)}")
  }

  /** Traced-only probes: log replay at the latest and an old version, and
    * file skipping for the read predicate, each as its own call.
    */
  private def probes(h: Harness, old: Long): Unit = {
    val snap = h.timed("log_replay", "tables.log_replay_s") {
      val log = DeltaLog.forPath(tablePath)
      log.snapshot(old)
      log.snapshot()
    }
    val kept = h.timed("skip", "tables.skip_s") {
      DataSkipping.prune(snap, Seq(Or(LessThan("PassengerId", lo), GreaterThan("PassengerId", hi))))
    }
    h.add("tables.files_scanned", kept.size.toDouble, "count")
    h.add("tables.files_total", snap.files.size.toDouble, "count")
  }

  def preparePass(h: Harness): Unit = {
    Fs.delete(s"$work/pass${h.pass - 1}")
    tablePath = s"$work/pass${h.pass}/table"
    travelDigests = Map.empty
  }

  /** The branch's stages: extract → load → upserts → manifest. */
  def stages(h: Harness, batchesToRun: Int): Seq[graft.pipeline.Stage] = {
    import graft.pipeline.Stage
    ran = batchesToRun
    var extracted: DataFrame = null
    Seq(
      Stage("extract")(s => extracted = h.timed("csv_read", "sources.csv_read_s") {
        graft.sources.Sources.csv(s, csv, Ddl).localCheckpoint()
      }),
      Stage("load", Seq("extract")) { s =>
        h.timed("write", "tables.write_s")(DeltaLikeTable.write(extracted, tablePath, "overwrite"))
        travelDigests += 0L -> Digest.of(DeltaLikeTable.forPath(s, tablePath).toDF.where(pred)).toString
      },
      Stage("upserts", Seq("load"))(_ => (0 until batchesToRun).foreach { b =>
        h.op("batch", s"b$b")(batch(h, b))
      }),
      Stage("manifest", Seq("upserts"))(s => h.timed("manifest", "tables.manifest_s") {
        DeltaLikeTable.forPath(s, tablePath).generate("symlink_format_manifest")
      }))
  }

  def checkPass(h: Harness): Unit = {
    val want = expected(h)
    val got = Digest.of(DeltaLikeTable.forPath(h.spark, tablePath).toDF).toString
    h.check(s"final_table#${h.pass}", if (want == got) None else Some(s"table $got != replay $want"))
    val manifest = java.nio.file.Paths.get(tablePath, "_symlink_format_manifest", "manifest")
    val listed = java.nio.file.Files.readAllLines(manifest).size
    val active = DeltaLog.forPath(tablePath).snapshot().files.size
    h.check(s"manifest#${h.pass}", if (listed == active) None else Some(s"manifest $listed != $active files"))
    if (h.collecting) tableStats(h)
  }

  private val expectedDigests = scala.collection.mutable.HashMap.empty[Int, String]

  /** Digest of the final table by an untimed replay of the pass's batches
    * on the driver: each batch's source rows replace rows with the same
    * key and add the rest (anti-join + union), independent of MERGE.
    */
  private def expected(h: Harness): String = expectedDigests.getOrElseUpdate(ran, {
    val base = gen.titanic(1, n + 1)
    val state = scala.collection.mutable.LinkedHashMap.empty[Int, Row]
    base.collect().foreach(r => state(r.getInt(0)) = r)
    batches.take(ran).zipWithIndex.foreach { case ((upd, (a, z)), b) =>
      val src = upd.flatMap(state.get).map(r => Row.fromSeq(r.toSeq.updated(1, b % 2))) ++
        gen.titanic(a, z, s"b$b").collect()
      src.foreach(r => state(r.getInt(0)) = r)
    }
    Digest.of(h.spark.createDataFrame(
      java.util.Arrays.asList(state.values.toSeq: _*), base.schema)).toString
  })

  /** Commit, log and amplification numbers of the traced pass's table. */
  private def tableStats(h: Harness): Unit = {
    val log = DeltaLog.forPath(tablePath)
    val versions = 0L to log.latestVersion
    val acts = versions.map(log.actions)
    val adds = acts.map(_.collect { case a: graft.tables.AddFile => a })
    val removes = acts.map(_.count(_.isInstanceOf[graft.tables.RemoveFile]))
    val commits = versions.size.toDouble
    h.set("tables.commits", commits, "count")
    h.set("tables.files_added", adds.map(_.size).sum / commits, "count")
    h.set("tables.files_removed", removes.sum / commits, "count")
    h.set("tables.bytes_added", adds.flatten.map(_.sizeBytes).sum / commits, "bytes")
    val logDir = s"$tablePath/${DeltaLog.LogDirName}"
    h.set("tables.log_bytes", Fs.treeBytes(logDir).toDouble, "bytes")
    h.set("tables.checkpoints", Fs.files(logDir)(_.contains("checkpoint")).size.toDouble, "count")
    // the rows the run submitted, as parquet: the CSV plus every batch source
    val submitted = batches.zipWithIndex.foldLeft(gen.titanic(1, n + 1)) { case (acc, ((upd, (a, z)), b)) =>
      acc.unionByName(gen.titanic(a, z, s"b$b"))
        .unionByName(gen.titanic(1, n + 1).where(col("PassengerId").isin(upd: _*)))
    }
    val srcPath = s"$work/submitted.parquet"
    val (_, srcBytes) = Gen.writeParquet(submitted, srcPath)
    Fs.delete(srcPath)
    val activeBytes = log.snapshot().files.map(_.sizeBytes).sum.toDouble
    h.set("tables.write_amp", adds.flatten.map(_.sizeBytes).sum / srcBytes.toDouble, "ratio")
    h.set("tables.space_amp", Fs.treeBytes(tablePath) / activeBytes, "ratio")
    val scanned = h.layerSums.get("tables.files_scanned").map(_._1).getOrElse(0.0)
    val total = h.layerSums.get("tables.files_total").map(_._1).getOrElse(0.0)
    if (total > 0) h.set("tables.skip_ratio", 1 - scanned / total, "ratio")
    val ops = h.ops.filter(o => o.kind == "batch" && o.phase == "traced").map(_.wall)
    h.set("tables.batch_p50_s", Main.median(ops.toSeq), "s")
  }
}

/** Streaming dedup ingest: a seeded documents corpus minus a held-out
  * set is seeded as a deltalike table plus its banded MinHash index;
  * the held-out docs then arrive in ascending id order as equal
  * triggers through `IngestDedup.appendDedupedBanded`: the streaming
  * branch of [[PipelineDag]]. One op is one trigger.
  */
final class StreamIngest {
  import graft.streaming.IngestDedup
  import graft.tables.{DeltaLikeTable, DeltaLog}

  private val QueryId = "perfbench"
  private var work: String = _
  private var template: String = _
  private var docs: DataFrame = _
  private var batches: Seq[DataFrame] = Nil
  private var heldOut: Seq[Long] = Nil
  private var tbl, idx: String = _
  /** Triggers the current pass runs (fewer in the warm-up pass). */
  private var ran = 0
  def triggerCount: Int = batches.size

  def setup(h: Harness, dir: String): Unit = {
    val nDocs = if (h.args.smoke) 200L else 300L
    val triggers = 2
    work = dir
    template = s"$dir/template"
    val gen = new Gen(h.spark, h.args.seed)
    val (rows, bytes) = Gen.writeParquet(gen.documents(nDocs), s"$dir/documents.parquet")
    docs = h.spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val held = pmod(xxhash64(lit(h.args.seed), col("doc_id"), lit("held")), lit(20L)) === 0
    heldOut = docs.where(held).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val corpus = docs.where(!held)
    val s0 = System.nanoTime()
    DeltaLikeTable.write(corpus, s"$template/tbl", "overwrite")
    IngestDedup.seedBandedIndex(corpus, s"$template/idx", "doc_id", "text")
    h.set("streaming.seed_s", (System.nanoTime() - s0) / 1e9, "s")
    val per = (heldOut.size + triggers - 1) / triggers
    batches = heldOut.grouped(per).toSeq.map { ids =>
      h.pin(docs.where(col("doc_id").isin(ids: _*)))
    }
    h.info("stream_input") = Map("documents" -> rows, "documents_bytes" -> bytes,
      "held_out" -> heldOut.size, "triggers" -> batches.size)
  }

  private def fresh(name: String): Unit = {
    val d = s"$work/$name"
    Fs.delete(d)
    Fs.copy(template, d)
    tbl = s"$d/tbl"
    idx = s"$d/idx"
  }

  private def trigger(h: Harness, i: Int): Unit =
    IngestDedup.appendDedupedBanded(tbl, idx, QueryId, "doc_id", "text", threshold = 0.6)(batches(i), i.toLong)

  def preparePass(h: Harness): Unit = {
    Fs.delete(s"$work/pass${h.pass - 1}")
    fresh(s"pass${h.pass}")
  }

  def stage(h: Harness, triggers: Int): graft.pipeline.Stage = graft.pipeline.Stage("ingest") { _ =>
    ran = triggers
    (0 until triggers).foreach { i =>
      h.op("trigger", s"t$i") {
        val t0 = System.nanoTime()
        trigger(h, i)
        h.add("streaming.trigger_s", (System.nanoTime() - t0) / 1e9 / batches.size, "s")
        None
      }
    }
  }

  def checkPass(h: Harness): Unit = {
    val ids = DeltaLikeTable.forPath(h.spark, tbl).toDF.select("doc_id").collect().map(_.getLong(0))
    h.check(s"no_duplicate_ids#${h.pass}",
      if (ids.distinct.length == ids.length) None else Some(s"${ids.length - ids.distinct.length} duplicate doc_ids"))
    val tables = Seq(tbl, s"$idx/sig", s"$idx/band")
    val commits = tables.map { p =>
      val log = DeltaLog.forPath(p)
      val txns = (0L to log.latestVersion).flatMap(v => log.actions(v).collect {
        case graft.tables.Txn(QueryId, b) => b
      })
      p -> txns
    }
    val want = (0 until ran).map(_.toLong)
    h.check(s"one_commit_per_batch#${h.pass}", commits.collectFirst {
      case (p, txns) if txns.sorted != want => s"$p committed batches ${txns.sorted.mkString(",")}"
    })
    val held = heldOut.toSet
    val admitted = ids.filter(held.contains).sorted.toSeq
    val golden = goldenLayers.take(ran).flatten.sorted
    h.check(s"admitted_set#${h.pass}",
      if (admitted == golden) None
      else Some(s"admitted ${admitted.size} docs, golden ${golden.size}; " +
        s"extra ${admitted.diff(golden).take(5)}, missing ${golden.diff(admitted).take(5)}"))
    if (h.collecting) {
      h.set("streaming.kept_frac", admitted.size.toDouble / heldOut.size, "ratio")
      h.set("streaming.commits_per_trigger", commits.map(_._2.size).sum.toDouble / ran, "count")
    }
  }

  /** Per trigger, the docs it admits under the ingest's keep rule,
    * computed exactly on the driver: a held-out doc is kept iff its
    * word-trigram Jaccard with every corpus doc, every doc kept by an
    * earlier trigger and every smaller-id doc of its own trigger stays
    * below 0.6.
    */
  private lazy val goldenLayers: Seq[Seq[Long]] = {
    val text = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(s: String): Set[String] = s.split(" ").sliding(3).collect {
      case a if a.length == 3 => a.mkString(" ")
    }.toSet
    val sh = text.map { case (id, s) => id -> shingles(s) }
    val index = scala.collection.mutable.HashMap.empty[String, List[Long]]
    def addToIndex(id: Long): Unit = sh(id).foreach(t => index(t) = id :: index.getOrElse(t, Nil))
    def similar(a: Long, b: Long): Boolean = {
      val x = sh(a); val y = sh(b)
      val inter = x.count(y.contains)
      x.nonEmpty && y.nonEmpty && inter.toDouble / (x.size + y.size - inter) >= 0.6
    }
    val held = heldOut.toSet
    text.keys.filterNot(held.contains).foreach(addToIndex)
    val per = (heldOut.size + batches.size - 1) / batches.size
    heldOut.grouped(per).map { layer =>
      val kept = layer.filter { a =>
        val cands = sh(a).flatMap(t => index.getOrElse(t, Nil))
        sh(a).isEmpty || (!cands.exists(similar(a, _)) && !layer.exists(p => p < a && similar(a, p)))
      }
      kept.foreach(addToIndex)
      kept
    }.toList
  }
}

/** The repository's pipeline traffic as one `graft.pipeline.Pipeline`
  * DAG: the reference's versioned-table ETL branch ([[VersionedEtl]])
  * and the streaming dedup ingest branch ([[StreamIngest]]), each set up
  * on its own, run as one pass and checked after it.
  */
final class PipelineDag extends Workload {
  private val etl = new VersionedEtl
  private val stream = new StreamIngest
  private var report: graft.pipeline.PipelineReport = _

  def setup(h: Harness, dir: String): Unit = {
    etl.setup(h, s"$dir/etl")
    stream.setup(h, s"$dir/stream")
  }

  override def preparePass(h: Harness): Unit = {
    etl.preparePass(h)
    stream.preparePass(h)
  }

  /** The warm-up pass runs every stage but only two batches and one
    * trigger: enough to compile the code paths, at half the cost.
    */
  def pass(h: Harness): Unit = {
    val warm = h.phase == "warmup"
    val stages = etl.stages(h, if (warm) 2 else etl.batchCount) :+
      stream.stage(h, if (warm) 1 else stream.triggerCount)
    report = new graft.pipeline.Pipeline(stages).execute(h.spark)
    report.results.foreach(r => h.add(s"pipeline.${r.name}_s", r.seconds, "s"))
  }

  override def checkPass(h: Harness): Unit = {
    h.check(s"pipeline#${h.pass}",
      report.results.find(!_.ok).map(r => s"stage ${r.name}: ${r.error.get}"))
    etl.checkPass(h)
    stream.checkPass(h)
    h.sweep()
  }
}

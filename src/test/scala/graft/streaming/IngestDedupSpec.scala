package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession
import graft.tables.DeltaLikeTable

/** End-to-end streaming ingest-dedup pipeline: document stream →
  * per-batch near-dup filtering against the GROWING corpus table →
  * exactly-once append ([[IngestDedup]]). Proves the three pieces
  * (MinHash+verify dedup, deltalike transactions, structured
  * streaming) compose into the production corpus feed.
  */
class IngestDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("ingest-dedup-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  private val baseA = "alpha beta gamma delta epsilon zeta eta theta iota " +
    "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val novelB = "entirely different prose concerning rivers bridges " +
    "ferries locks barges tides estuaries deltas floodplains meanders"
  private val novelC = "third topic covering kilns glazes wheels slips " +
    "bisque stoneware porcelain earthenware saggars ash"

  test("stream batches dedup against seed corpus, earlier batches, and replays") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tablePath = tempDirs("ingest_tbl")
    val ckpt = tempDirs("ingest_ckpt")

    // seed corpus: one doc
    DeltaLikeTable.write(
      Seq((1L, baseA)).toDF("doc_id", "text"), tablePath)

    val stream = MemoryStream[(Long, String)]
    val q = IngestDedup.writeStream(
        stream.toDS().toDF("doc_id", "text").writeStream
          .option("checkpointLocation", ckpt),
        tablePath, "ingest-spec", "doc_id", "text")
      .start()
    try {
      // batch 0: near-copy of the seed (dropped), novel doc (kept), and
      // an intra-batch near-copy of the novel doc (dropped: larger id)
      stream.addData((10L, baseA + " phi"), (11L, novelB), (12L, novelB + " extra"))
      q.processAllAvailable()
      // batch 1: near-copy of a doc INGESTED BY BATCH 0 (dropped — the
      // corpus read resolves the latest snapshot), plus a novel doc
      stream.addData((20L, novelB + " postscript"), (21L, novelC))
      q.processAllAvailable()
    } finally q.stop()

    val t = DeltaLikeTable.forPath(spark, tablePath)
    val ids = t.toDF.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 11L, 21L),
      s"kept = seed + one novel per batch, got $ids")
    assert(t.version === 2) // seed v0 + two micro-batch appends

    // replaying an already-committed batch is a no-op (Txn watermark),
    // even though its documents now near-match the corpus (themselves)
    IngestDedup.appendDeduped(tablePath, "ingest-spec", "doc_id", "text")(
      Seq((11L, novelB)).toDF("doc_id", "text"), 0L)
    assert(t.toDF.count() === 3)
    assert(t.version === 2)

    // a genuinely new batch from a restarted query id still dedups
    // against everything ingested so far
    IngestDedup.appendDeduped(tablePath, "other-query", "doc_id", "text")(
      Seq((30L, novelC + " coda"), (31L, "wholly new words about astronomy " +
        "telescopes mirrors apertures eyepieces mounts")).toDF("doc_id", "text"), 0L)
    val finalIds = t.toDF.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(finalIds === Set(1L, 11L, 21L, 31L))
  }

  test("q278 replay equals the sequential batch incrementalNearDup layers") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val got = IngestDedup.q278StreamIngestDedup(spark, d)
      .collect().map(_.getLong(0)).toSet

    // reference: replay the three chunks through the BATCH operator,
    // growing the corpus with each chunk's keepers — exactly the
    // semantics the foreachBatch loop promises
    val docs = graft.core.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
    var corpus = docs.where(col("doc_id") < 400)
    var kept = Set.empty[Long]
    Seq((400L, 450L), (450L, 500L), (500L, Long.MaxValue)).foreach {
      case (lo, hi) =>
        val chunk = docs.where(col("doc_id") >= lo && col("doc_id") < hi)
        val keepIds = graft.operators.NearDup
          .incrementalNearDup(chunk, corpus, "doc_id", "text", 0.6)
          .where(col("keep")).select(col("doc_id"))
        kept ++= keepIds.collect().map(_.getLong(0))
        corpus = corpus.unionByName(chunk.join(keepIds, Seq("doc_id")))
    }
    assert(got === kept, s"stream-kept ${got.size} vs batch-kept ${kept.size}")
    assert(got.nonEmpty && got.size < 100,
      s"expected some admissions and some rejections, kept ${got.size}/100")
  }

  test("indexedNearDupVerdicts equals the from-text incrementalNearDup") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
    val batch = docs.where(col("doc_id") >= 400)
    val corpus = docs.where(col("doc_id") < 400)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    val fromText = asMap(graft.operators.NearDup
      .incrementalNearDup(batch, corpus, "doc_id", "text", 0.6))
    val indexed = asMap(graft.operators.NearDup.indexedNearDupVerdicts(
      graft.operators.NearDup.signatureRows(batch, "doc_id", "text"),
      graft.operators.NearDup.signatureRows(corpus, "doc_id", "text"),
      "doc_id", 0.6))
    // both paths emit one verdict row per batch doc (left join over
    // the full batch); every triple must agree
    assert(indexed.keySet === fromText.keySet)
    assert(indexed === fromText)
  }

  test("indexed ingest: decisions come from the signature table, not " +
    "corpus text — and a sig-committed/doc-missing replay recovers") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val docPath = tempDirs("ingest_idx_tbl")
    val sigPath = tempDirs("ingest_idx_sig")

    val seed = Seq((1L, baseA)).toDF("doc_id", "text")
    DeltaLikeTable.write(seed, docPath)
    IngestDedup.seedSignatureIndex(seed, sigPath, "doc_id", "text")

    // MANGLE the corpus text in the doc table (overwrite with garbage):
    // if any trigger consulted corpus text, the near-copy below would
    // sail through. The signature index is the only honest source.
    DeltaLikeTable.write(
      Seq((1L, "x")).toDF("doc_id", "text"), docPath, "overwrite")

    IngestDedup.appendDedupedIndexed(docPath, sigPath, "idx-spec",
      "doc_id", "text")(
      Seq((10L, baseA + " phi"), (11L, novelB)).toDF("doc_id", "text"), 0L)
    val t = DeltaLikeTable.forPath(spark, docPath)
    assert(t.toDF.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 11L), "near-copy of the seed must be blocked via the index")

    // crash simulation: batch 1's SIG append committed, doc append not.
    // The decision (keep 21, block 20 as a near-copy of doc 11's
    // indexed signatures) is already durable in the sig table.
    val b1 = Seq((20L, novelB + " postscript"), (21L, novelC))
      .toDF("doc_id", "text")
    val b1Sigs = graft.operators.NearDup
      .signatureRows(b1, "doc_id", "text")
      .where(col("doc_id") === 21L)
      .withColumn("ingest_batch", lit(1L))
    graft.tables.DeltaLikeSink.appendBatch(sigPath, "idx-spec")(b1Sigs, 1L)
    // the replayed trigger must RECOVER the persisted decision, not
    // recompute against a sig table that now contains doc 21 itself
    // (recomputation would flag 21 as its own duplicate and lose it)
    IngestDedup.appendDedupedIndexed(docPath, sigPath, "idx-spec",
      "doc_id", "text")(b1, 1L)
    assert(t.toDF.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 11L, 21L))
    // and the sig table was not double-appended for batch 1
    val sigT = DeltaLikeTable.forPath(spark, sigPath)
    assert(sigT.toDF.where(col("ingest_batch") === 1L).count() === 1L)

    // a fully-replayed batch (both tables committed) is a no-op
    IngestDedup.appendDedupedIndexed(docPath, sigPath, "idx-spec",
      "doc_id", "text")(b1, 1L)
    assert(t.toDF.count() === 3L)
  }

  test("q281 (indexed) final relation equals q278 (from-text)") {
    val d = "/root/testdata/sf0.001"
    val idx = IngestDedup.q281StreamIngestIndexed(spark, d)
      .collect().map(_.getLong(0)).toSet
    val txt = IngestDedup.q278StreamIngestDedup(spark, d)
      .collect().map(_.getLong(0)).toSet
    assert(idx === txt)
  }

  test("bandedNearDupVerdicts equals indexedNearDupVerdicts, " +
    "including the past-cap full-scan fallback") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.{col, expr, posexplode, size}
    val d = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
    // plus a two-token batch doc: no shingles, so no signature, no band
    // row and no candidate — every plan must still keep it
    val short = 9000001L
    val batch = docs.where(col("doc_id") >= 400)
      .unionByName(Seq((short, "two tokens")).toDF("doc_id", "text"))
    val corpus = docs.where(col("doc_id") < 400)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    val batchSigs = graft.operators.NearDup
      .signatureRows(batch, "doc_id", "text").localCheckpoint()
    val corpusSigs = graft.operators.NearDup
      .signatureRows(corpus, "doc_id", "text").localCheckpoint()
    val indexed = asMap(graft.operators.NearDup.indexedNearDupVerdicts(
      batchSigs, corpusSigs, "doc_id", 0.6))
    // full-scan closures: the verdicts must be pruning-INDEPENDENT (a
    // pruned read only ever returns a superset the joins re-filter)
    val bandRows = corpusSigs.where(size(col("sig")) > 0)
      .select(col("doc_id"), posexplode(expr("band_hashes(sig, 32, 4)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    def banded(cap: Int) =
      asMap(graft.operators.NearDup.bandedNearDupVerdicts(
        batchSigs, _ => bandRows,
        _ => corpusSigs.select(col("doc_id"), col("sh")),
        "doc_id", 0.6, maxPrunedLookup = cap))
    assert(banded(100000) === indexed)
    // cap 0 forces the corpusShFor(None) fallback branch
    assert(banded(0) === indexed)
    val fromText = asMap(graft.operators.NearDup
      .incrementalNearDup(batch, corpus, "doc_id", "text", 0.6))
    for (verdicts <- Seq(indexed, banded(100000), banded(0), fromText))
      assert(verdicts(short) === ((false, false, true)))
  }

  test("a signature of the wrong length fails both signature-index plans, " +
    "naming the doc") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq((7L, baseA), (8L, novelB)).toDF("doc_id", "text")
    // doc 7 indexed with 64 hashes, banded under numHashes = 128
    val batchSigs = graft.operators.NearDup.signatureRows(
      docs.where(col("doc_id") === 7L), "doc_id", "text", numHashes = 64)
    val corpusSigs = graft.operators.NearDup.signatureRows(
      docs.where(col("doc_id") === 8L), "doc_id", "text")
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
    val expected = "signature length != numHashes=128 for id 7"
    val indexed = intercept[Exception](graft.operators.NearDup
      .indexedNearDupVerdicts(batchSigs, corpusSigs, "doc_id", 0.6,
        numHashes = 128).collect())
    assert(messages(indexed).contains(expected), messages(indexed))
    val banded = intercept[Exception](graft.operators.NearDup
      .bandedNearDupVerdicts(batchSigs, _ => spark.emptyDataFrame,
        _ => corpusSigs.select(col("doc_id"), col("sh")), "doc_id", 0.6,
        numHashes = 128).collect())
    assert(messages(banded).contains(expected), messages(banded))
  }

  test("banded ingest: decisions from the pruned index, derived band " +
    "table, and crash replays recover at every commit boundary") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val docPath = tempDirs("ingest_band_tbl")
    val idxPath = tempDirs("ingest_band_idx")

    val seed = Seq((1L, baseA)).toDF("doc_id", "text")
    DeltaLikeTable.write(seed, docPath)
    IngestDedup.seedBandedIndex(seed, idxPath, "doc_id", "text")
    // mangle the doc-table text: any trigger consulting corpus text
    // would admit the near-copy below; the banded index is the only
    // honest source
    DeltaLikeTable.write(
      Seq((1L, "x")).toDF("doc_id", "text"), docPath, "overwrite")

    IngestDedup.appendDedupedBanded(docPath, idxPath, "band-spec",
      "doc_id", "text")(
      Seq((10L, baseA + " phi"), (11L, novelB)).toDF("doc_id", "text"), 0L)
    val t = DeltaLikeTable.forPath(spark, docPath)
    assert(t.toDF.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 11L), "near-copy of the seed must be blocked via the index")
    // the derived band table carries the admitted doc's 32 band rows
    val bandT = DeltaLikeTable.forPath(spark, s"$idxPath/band")
    assert(bandT.toDF.where(col("doc_id") === 11L).count() === 32L)
    assert(bandT.toDF.where(col("doc_id") === 10L).count() === 0L)

    // crash window 1: batch 1's SIG append committed, band + doc not.
    val b1 = Seq((20L, novelB + " postscript"), (21L, novelC))
      .toDF("doc_id", "text")
    val b1Sigs = graft.operators.NearDup
      .signatureRows(b1, "doc_id", "text")
      .where(col("doc_id") === 21L)
      .withColumn("ingest_batch", lit(1L))
    graft.tables.DeltaLikeSink.appendBatch(s"$idxPath/sig", "band-spec")(
      b1Sigs, 1L)
    // replay must RECOVER the durable decision (keep 21, drop 20) and
    // rebuild the band rows from the sig table's batch files
    IngestDedup.appendDedupedBanded(docPath, idxPath, "band-spec",
      "doc_id", "text")(b1, 1L)
    assert(t.toDF.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 11L, 21L))
    val sigT = DeltaLikeTable.forPath(spark, s"$idxPath/sig")
    assert(sigT.toDF.where(col("ingest_batch") === 1L).count() === 1L)
    assert(bandT.toDF.where(col("doc_id") === 21L).count() === 32L)

    // crash window 2: sig + band committed, doc append missing — the
    // replay must finish the doc append without re-appending either
    val b2 = Seq((30L, novelC + " afterword")).toDF("doc_id", "text")
    val b2Sigs = graft.operators.NearDup
      .signatureRows(b2, "doc_id", "text")
      .withColumn("ingest_batch", lit(2L))
    graft.tables.DeltaLikeSink.appendBatch(s"$idxPath/sig", "band-spec")(
      b2Sigs, 2L)
    graft.tables.DeltaLikeSink.appendBatch(s"$idxPath/band", "band-spec")(
      bandT.toDF.limit(0), 2L) // an (empty) band commit for batch 2
    IngestDedup.appendDedupedBanded(docPath, idxPath, "band-spec",
      "doc_id", "text")(b2, 2L)
    assert(t.toDF.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 11L, 21L, 30L))
    assert(sigT.toDF.where(col("ingest_batch") === 2L).count() === 1L)

    // a fully-replayed batch (all three tables committed) is a no-op
    IngestDedup.appendDedupedBanded(docPath, idxPath, "band-spec",
      "doc_id", "text")(b2, 2L)
    assert(t.toDF.count() === 4L)
  }

  /** Arm the commit hook so that the transaction `skip` commits from now
    * throws before its first attempt: a crash after staging.
    */
  private def armCrash(skip: Int): Unit =
    graft.tables.DeltaLog.preCommitHook = () =>
      if (skip == 0) throw new IllegalStateException("crash") else armCrash(skip - 1)

  test("banded ingest: a crash before the band or the doc commit replays " +
    "to the uncrashed doc set, with one Txn per batch per table") {
    val sp = spark; import sp.implicits._
    import graft.tables.{DeltaLikeSink, DeltaLog, Txn}
    val q = "crash-spec"
    val batches = Seq(
      Seq((10L, baseA + " phi"), (11L, novelB)).toDF("doc_id", "text"),
      Seq((20L, novelB + " postscript"), (21L, novelC)).toDF("doc_id", "text"))
    // crashAt(batch) = how many of its commits (sig, band, doc) land first
    def run(crashAt: Int => Option[Int]): Seq[String] = {
      val docPath = tempDirs("ingest_crash_tbl")
      val idxPath = tempDirs("ingest_crash_idx")
      val seed = Seq((1L, baseA)).toDF("doc_id", "text")
      DeltaLikeTable.write(seed, docPath)
      IngestDedup.seedBandedIndex(seed, idxPath, "doc_id", "text")
      val tables = Seq(s"$idxPath/sig", s"$idxPath/band", docPath)
      def trigger(b: Int): Unit = IngestDedup.appendDedupedBanded(docPath, idxPath, q,
        "doc_id", "text")(batches(b), b.toLong)
      batches.indices.foreach { b =>
        crashAt(b).foreach { landed =>
          armCrash(landed)
          intercept[IllegalStateException](trigger(b))
          assert(tables.map(DeltaLikeSink.lastCommittedBatchIn(_, q) >= b) ===
            tables.indices.map(_ < landed), s"crash of batch $b after $landed commits")
        }
        trigger(b) // the replay
      }
      tables
    }
    val clean = run(_ => None)
    val crashed =
      try run(Map(0 -> 1, 1 -> 2).get)
      finally DeltaLog.preCommitHook = () => ()
    def docs(tables: Seq[String]): Set[Long] =
      DeltaLikeTable.forPath(spark, tables(2)).toDF.select("doc_id")
        .collect().map(_.getLong(0)).toSet
    assert(docs(crashed) === docs(clean))
    assert(docs(clean) === Set(1L, 11L, 21L))
    crashed.foreach { p =>
      val log = DeltaLog.forPath(p)
      val txns = (0L to log.latestVersion).flatMap(v =>
        log.actions(v).collect { case Txn(`q`, b) => b })
      assert(txns.sorted === Seq(0L, 1L), p)
    }
  }

  test("q283 (banded) final relation equals q278 (from-text)") {
    val d = "/root/testdata/sf0.001"
    val band = IngestDedup.q283StreamIngestBanded(spark, d)
      .collect().map(_.getLong(0)).toSet
    val txt = IngestDedup.q278StreamIngestDedup(spark, d)
      .collect().map(_.getLong(0)).toSet
    assert(band === txt)
  }
}

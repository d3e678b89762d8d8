package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.core.SharedRelations
import graft.operators.NearDup
import graft.tables.{DeltaLikeSink, DeltaLikeTable, DeltaLog}

/** Streaming corpus ingest with near-dup filtering — the composition a
  * production training-data feed actually runs: each micro-batch is
  * deduplicated against the CURRENT corpus table
  * ([[NearDup.incrementalNearDup]]: MinHash candidates + exact
  * verification, corpus×corpus never compared) and the survivors are
  * appended with [[DeltaLikeSink]]'s exactly-once contract (the
  * (queryId, batchId) Txn watermark skips replayed batches, so a
  * restarted query neither duplicates rows nor re-admits documents the
  * original attempt already ingested).
  *
  * The corpus read resolves the LATEST snapshot at each batch, so a
  * document admitted by batch N blocks its near-copies from batch N+1
  * onward; within one batch the smaller-id document wins (the
  * `dup_in_batch` rule).
  *
  * Scale shape per batch: corpus signatures are an index-shaped scan
  * (one groupBy over the corpus shingles), candidates are bucket-join
  * rows with a batch side only, verification touches candidates only —
  * ingest cost scales with the batch and the collision set, never
  * corpus².
  */
object IngestDedup {

  /** The foreachBatch function: dedup `batch` against the table at
    * `path` (and itself), append the keepers exactly-once.
    */
  def appendDeduped(
      path: String,
      queryId: String,
      idCol: String,
      textCol: String,
      threshold: Double = 0.6)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // replayed batch: skip BEFORE recomputing verdicts — the corpus has
    // grown since (it contains this very batch), so re-deriving keep
    // flags against it would be wrong as well as wasted
    if (batchId <= DeltaLikeSink.lastCommittedBatchIn(path, queryId)) return
    val corpus =
      if (DeltaLog.forPath(path).exists)
        DeltaLikeTable.forPath(spark, path).toDF.select(col(idCol), col(textCol))
      else batch.select(col(idCol), col(textCol)).limit(0)
    val keepIds = NearDup
      .incrementalNearDup(batch, corpus, idCol, textCol, threshold)
      .where(col("keep"))
      .select(col(idCol))
    DeltaLikeSink.appendBatch(path, queryId)(
      batch.join(keepIds, Seq(idCol)), batchId)
  }

  /** Wire a document stream into a deduplicating corpus sink:
    * {{{
    * IngestDedup.writeStream(docs.writeStream, "/corpus", "ingest",
    *     "doc_id", "text")
    *   .option("checkpointLocation", ...)
    *   .start()
    * }}}
    */
  def writeStream[T](
      writer: DataStreamWriter[T],
      path: String,
      queryId: String,
      idCol: String,
      textCol: String,
      threshold: Double = 0.6): DataStreamWriter[T] =
    writer.foreachBatch { (batch: org.apache.spark.sql.Dataset[T], batchId: Long) =>
      appendDeduped(path, queryId, idCol, textCol, threshold)(batch.toDF(), batchId)
    }

  // ---- declared q278: finite replay of the whole ingest loop ---------

  /** The q278 batch chunk boundaries: docs ≥ 400 stream in as three
    * doc_id-ordered micro-batches. Ascending-id chunks make the
    * chunked keep set equal the atomic min-id rule a whole-batch run
    * uses, so chunking changes WHEN a duplicate is blocked (corpus
    * join vs in-batch rule) but never WHICH doc survives.
    */
  private val ChunkBounds = Seq((400L, 450L), (450L, 500L), (500L, Long.MaxValue))

  private def q278ChunkDir(spark: SparkSession, d: String): String =
    SharedRelations.directory(spark, "ingest_chunks", d) { dir =>
      val docs = graft.core.Tables.documents(spark, d)
        .select(col("doc_id"), col("text"))
      ChunkBounds.zipWithIndex.foreach { case ((lo, hi), i) =>
        EventStream.writeReplayChunk(
          docs.where(col("doc_id") >= lo && col("doc_id") < hi), dir.toString, i)
      }
    }._1

  // ---- one-time seed scaffolding, shared across bench reps ----------
  //
  // The seed corpus table (and q281's signature index) are INPUTS to
  // the declared streaming rows, not per-trigger work: building them
  // with a Spark write job inside every timed invocation made the
  // blessed medians measure scaffolding, not stream execution. Build
  // each ONCE as an immutable template — a shared directory, timed as
  // a `shared:` bench row like every other one-time build — and give
  // each invocation a fresh FILESYSTEM COPY (the table must still
  // mutate per run; add-file paths in the deltalike log are
  // table-root-relative, so a copied directory is a valid table).

  /** Per-run "copy" of an immutable template tree. Delta-like table
    * files are never modified in place (appends add NEW data files and
    * NEW log entries), so the run tree can share the template's file
    * CONTENT via hard links — per-rep scaffolding cost becomes inode
    * metadata instead of data IO (guide §6: don't move bytes you don't
    * have to). Cross-filesystem or unsupported targets fall back to a
    * real copy per file.
    *
    * INVARIANT this sharing depends on: every table writer creates new
    * files exclusively (`TableIO.writeExclusive` for log entries /
    * checkpoints, fresh UUID-named data files for appends) and nothing
    * ever rewrites a table file in place. A future in-place rewrite
    * (compaction reusing a name, manifest regeneration inside a
    * template, `writeString` onto an existing path) would silently
    * corrupt the shared template for all later reps — so every linked
    * file is also marked READ-ONLY here: the write then fails loudly
    * (AccessDenied) instead. A link whose mark does not take is replaced
    * by a real copy, so the guard is never silently missing. Deletion
    * still works (POSIX delete needs directory write permission, not
    * file write permission).
    */
  private def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else
        try {
          Files.createLink(target, p)
          // a hard link shares the inode, so this also marks the
          // template's own file read-only
          if (!target.toFile.setWritable(false, false)) {
            Files.delete(target)
            Files.copy(p, target)
          }
        } catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
        }
    }
    finally walk.close()
  }

  /** Immutable template of the doc_id < 400 seed corpus table, built
    * once per kind and copied per run. `kind` distinguishes q281's
    * variant, whose template also carries the backfilled signature
    * index as a sibling `_sig` directory, and q283's, which carries the
    * banded index as `_idx`.
    */
  private def seedTemplate(spark: SparkSession, d: String, kind: String): String =
    SharedRelations.directory(spark, s"ingest_seed_$kind", d) { dir =>
      val seed = graft.core.Tables.documents(spark, d)
        .select(col("doc_id"), col("text"))
        .where(col("doc_id") < 400)
      DeltaLikeTable.write(seed, dir.resolve("tbl").toString, "overwrite")
      if (kind == "indexed")
        seedSignatureIndex(seed, dir.resolve("_sig").toString,
          "doc_id", "text")
      if (kind == "banded")
        seedBandedIndex(seed, dir.resolve("_idx").toString,
          "doc_id", "text")
    }._1

  /** One finite replay of the q278 chunk stream: a fresh copy of the
    * `kind` seed template (its `tbl` doc table plus any index tree) in a
    * scratch dir, `trigger(scratch)` as the foreachBatch over the three
    * chunks, and the admitted batch doc_ids of the final `tbl` snapshot.
    * The snapshot is materialized EAGERLY so the scratch tree (table,
    * index and checkpoint) is deleted before returning, on every exit
    * path — the bench reruns each row 3x.
    */
  private def replayIngest(spark: SparkSession, d: String, kind: String)(
      trigger: Path => (DataFrame, Long) => Unit): DataFrame = {
    val scratch = Files.createTempDirectory(s"graft_ingest_run_$kind")
    try {
      copyTree(Paths.get(seedTemplate(spark, d, kind)), scratch)
      val onBatch = trigger(scratch)
      val q = spark.readStream
        .schema(StructType.fromDDL("doc_id BIGINT, text STRING"))
        .option("maxFilesPerTrigger", 1)
        .parquet(q278ChunkDir(spark, d))
        .writeStream
        .foreachBatch((b: Dataset[Row], id: Long) => onBatch(b.toDF(), id))
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.read.format("deltalike").load(scratch.resolve("tbl").toString)
        .where(col("doc_id") >= 400).select(col("doc_id"))
        .localCheckpoint()
    } finally SharedRelations.deleteTree(scratch)
  }

  /** Declared q278: the streaming ingest-dedup loop end-to-end — the
    * doc_id < 400 corpus is seeded as a deltalike table, docs ≥ 400
    * arrive as three ascending-id micro-batches, each batch is
    * near-dup-filtered (trigram-shingle Jaccard ≥ 0.6, MinHash-LSH
    * candidates + exact verify) against the LATEST table snapshot and
    * itself, and survivors append through the exactly-once sink.
    * Returns the admitted batch doc_ids from the final snapshot; the
    * oracle replays the same three sequential layers with all-pairs
    * Jaccard in SQL, so the multi-trigger keep semantics (a chunk-2
    * near-copy of a chunk-1 KEEPER is blocked; of a chunk-1 reject is
    * not, unless it also matches the corpus) are driver-hash-checked.
    *
    * Scale shape per trigger: corpus signatures are an index-shaped
    * scan, candidates are bucket-join rows with a batch side only,
    * verification touches candidates — cost tracks the batch and its
    * collision set, never corpus².
    */
  def q278StreamIngestDedup(spark: SparkSession, d: String): DataFrame =
    replayIngest(spark, d, "plain") { dir =>
      appendDeduped(dir.resolve("tbl").toString, "q278", "doc_id", "text",
        threshold = 0.6)
    }

  /** Oracle: the three ingest layers replayed sequentially in SQL —
    * layer k keeps a doc iff no trigram-Jaccard ≥ 0.6 match in
    * (corpus ∪ earlier layers' keepers) and no smaller-id match in its
    * own layer; docs with < 3 tokens have no shingles and are always
    * admitted (they never generate candidates on either engine).
    */
  val q278Sql: String = {
    def jac(a: String, b: String): String =
      s"CAST(len(list_intersect($a.sh, $b.sh)) AS DOUBLE) / " +
        s"(len($a.sh) + len($b.sh) - len(list_intersect($a.sh, $b.sh))) >= 0.6"
    s"""WITH sh AS (
      | SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      | FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      | WHERE len(t) >= 3),
      |deg AS (SELECT doc_id FROM documents WHERE doc_id >= 400
      |        AND doc_id NOT IN (SELECT doc_id FROM sh)),
      |b0 AS (SELECT doc_id, sh FROM sh WHERE doc_id < 400),
      |c1 AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 400 AND doc_id < 450),
      |c2 AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 450 AND doc_id < 500),
      |c3 AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 500),
      |k1 AS (SELECT a.doc_id, a.sh FROM c1 a WHERE
      |  NOT EXISTS (SELECT 1 FROM b0 b WHERE ${jac("a", "b")})
      |  AND NOT EXISTS (SELECT 1 FROM c1 p
      |                  WHERE p.doc_id < a.doc_id AND ${jac("a", "p")})),
      |b1 AS (SELECT * FROM b0 UNION ALL SELECT * FROM k1),
      |k2 AS (SELECT a.doc_id, a.sh FROM c2 a WHERE
      |  NOT EXISTS (SELECT 1 FROM b1 b WHERE ${jac("a", "b")})
      |  AND NOT EXISTS (SELECT 1 FROM c2 p
      |                  WHERE p.doc_id < a.doc_id AND ${jac("a", "p")})),
      |b2 AS (SELECT * FROM b1 UNION ALL SELECT * FROM k2),
      |k3 AS (SELECT a.doc_id, a.sh FROM c3 a WHERE
      |  NOT EXISTS (SELECT 1 FROM b2 b WHERE ${jac("a", "b")})
      |  AND NOT EXISTS (SELECT 1 FROM c3 p
      |                  WHERE p.doc_id < a.doc_id AND ${jac("a", "p")}))
      |SELECT doc_id FROM deg
      |UNION ALL SELECT doc_id FROM k1
      |UNION ALL SELECT doc_id FROM k2
      |UNION ALL SELECT doc_id FROM k3""".stripMargin
  }

  // ---- indexed variant: the signature relation is its own table ------

  /** The indexed foreachBatch: dedup `batch` against the PERSISTED
    * signature table at `sigPath` (never the corpus text — the
    * [[appendDeduped]] path re-derives corpus MinHash signatures from
    * text every trigger, an index-shaped scan that still reads the
    * whole corpus; a production 100 TB feed maintains the signature
    * relation as its own table instead, so per-trigger cost is
    * O(batch + collisions) with a metadata-sized corpus touch), then
    * append survivors' signature rows to `sigPath` and their documents
    * to `docPath`, both exactly-once.
    *
    * Two-table exactly-once: the KEEP DECISION commits with the
    * signature append (each sig row is stamped `ingest_batch`), and the
    * doc append commits second. A crash between the two leaves the
    * decision durable; the replay recovers it by READING the sig table
    * (`ingest_batch = batchId`) instead of recomputing against a corpus
    * that now already contains this batch's signatures — recomputing
    * there would flag every survivor as its own duplicate.
    */
  def appendDedupedIndexed(
      docPath: String,
      sigPath: String,
      queryId: String,
      idCol: String,
      textCol: String,
      threshold: Double = 0.6)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batchId <= DeltaLikeSink.lastCommittedBatchIn(docPath, queryId)) return
    val sigCommitted =
      batchId <= DeltaLikeSink.lastCommittedBatchIn(sigPath, queryId)
    val keepIds =
      if (sigCommitted) {
        // decision already durable from a prior attempt: recover it
        DeltaLikeTable.forPath(spark, sigPath).toDF
          .where(col("ingest_batch") === batchId)
          .select(col(idCol))
      } else {
        val batchSigs = NearDup
          .signatureRows(batch.select(col(idCol), col(textCol)), idCol, textCol)
          .localCheckpoint() // two consumers: verdicts + the sig append
        val corpusSigs =
          if (DeltaLog.forPath(sigPath).exists)
            DeltaLikeTable.forPath(spark, sigPath).toDF
              .select(col(idCol), col("sh"), col("sig"))
          else batchSigs.select(col(idCol), col("sh"), col("sig")).limit(0)
        // the trigger decides once: the sig and doc appends both read
        // this set, and must not re-run the verdicts against a corpus
        // the sig append has just grown
        val keep = NearDup
          .indexedNearDupVerdicts(batchSigs, corpusSigs, idCol, threshold)
          .where(col("keep"))
          .select(col(idCol))
          .localCheckpoint()
        DeltaLikeSink.appendBatch(sigPath, queryId)(
          batchSigs.join(keep, Seq(idCol))
            .withColumn("ingest_batch", org.apache.spark.sql.functions.lit(batchId)),
          batchId)
        keep
      }
    DeltaLikeSink.appendBatch(docPath, queryId)(
      batch.join(keepIds, Seq(idCol)), batchId)
  }

  /** Backfill the signature index for an existing corpus — the one-time
    * index build an [[appendDedupedIndexed]] feed runs before its first
    * trigger (sig rows are stamped `ingest_batch = -1`: pre-stream).
    */
  def seedSignatureIndex(
      corpus: DataFrame,
      sigPath: String,
      idCol: String,
      textCol: String): Unit =
    DeltaLikeTable.write(
      NearDup.signatureRows(corpus, idCol, textCol)
        .withColumn("ingest_batch", org.apache.spark.sql.functions.lit(-1L)),
      sigPath, "overwrite")

  // ---- band-bucketed variant: per-trigger corpus touch is PRUNED -----

  /** Sig-table files hold ~this many docs so a candidate-id point
    * lookup keeps ~|collision set| files, independent of corpus size.
    */
  private val SigDocsPerFile = 512L

  /** Band-table files hold ~this many (band, bh, id) int rows; the
    * per-trigger bh probe prunes against their bh stat ranges.
    */
  private val BandRowsPerFile = 131072L

  /** Build the band-bucketed index for an existing corpus: TWO tables
    * under `indexPath` —
    *
    *   - `sig`: [[NearDup.signatureRows]] + `ingest_batch`, files
    *     RANGE-PARTITIONED by id (~[[SigDocsPerFile]] docs each) so a
    *     candidate-id lookup is file-pruned to the collision set;
    *   - `band`: [[NearDup.bandRows]] of the sig table, files
    *     range-partitioned by bh (~[[BandRowsPerFile]] rows each) so a
    *     trigger's band-hash probe is file-pruned to the buckets it
    *     hits.
    *
    * This is the layout the round-13 ladder named as the corpus-free
    * follow-on: the flat (id, sig) index still paid a corpus-linear
    * sig-array scan + band-hash recompute per trigger; here both
    * per-trigger corpus touches go through
    * [[graft.tables.DeltaLikeTable.readPruned]] point lookups. The
    * heavy payloads (sh shingle sets, sig arrays) live ONLY in the
    * id-ranged sig table, so the residual corpus-linear touch is the
    * int-triple band relation — ~2% of the index bytes.
    *
    * File-count shape at 100 TB: file SIZE is fixed, so file count
    * grows with the corpus while a trigger's kept-file count stays
    * bounded by its probe set (≤ |batch|·bands band files + |collision
    * set| sig files) — per-trigger IO is flat in corpus size. The
    * linear driver-side stat sweep in [[graft.tables.DataSkipping]] is
    * the piece a multi-million-file deployment would replace with a
    * sorted-run binary search over file ranges; it is O(files) metadata
    * with no data IO.
    */
  def seedBandedIndex(
      corpus: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32): Unit = {
    val spark = corpus.sparkSession
    val sigRows = NearDup.signatureRows(corpus, idCol, textCol, numHashes)
      .withColumn("ingest_batch", org.apache.spark.sql.functions.lit(-1L))
    val n = math.max(1L, corpus.count())
    val fs = ((n + SigDocsPerFile - 1) / SigDocsPerFile).toInt
    DeltaLikeTable.write(
      sigRows.repartitionByRange(fs, col(idCol)),
      s"$indexPath/sig", "overwrite")
    // band rows derive from the COMMITTED sig table — one cheap read
    // back instead of recomputing shingles + minhash
    val fb = ((n * bands + BandRowsPerFile - 1) / BandRowsPerFile).toInt
    DeltaLikeTable.write(
      NearDup.bandRows(DeltaLikeTable.forPath(spark, sigPathOf(indexPath)).toDF,
        idCol, "sig", numHashes, bands)
        .repartitionByRange(fb, col("bh")),
      s"$indexPath/band", "overwrite")
  }

  private def sigPathOf(indexPath: String) = s"$indexPath/sig"
  private def bandPathOf(indexPath: String) = s"$indexPath/band"

  /** The band-bucketed foreachBatch: [[appendDedupedIndexed]]'s
    * exactly-once contract (decision commits with the sig append,
    * replay recovers by READING, never recomputing) with per-trigger
    * corpus touch PRUNED to the batch's probe sets — candidate
    * generation reads the band files its band hashes hit, exact verify
    * reads the sig files its collision set lands in, and the corpus is
    * never scanned end-to-end after the one-time seed, at any corpus
    * size.
    *
    * Three-table commit order per batch: sig (the durable keep
    * decision) → band (derived; rebuilt from the sig table's own
    * batch-pruned files on replay) → docs. Every inter-commit crash
    * window recovers by reading the tables already committed.
    */
  def appendDedupedBanded(
      docPath: String,
      indexPath: String,
      queryId: String,
      idCol: String,
      textCol: String,
      threshold: Double = 0.6,
      numHashes: Int = 128,
      bands: Int = 32)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val sigPath = sigPathOf(indexPath)
    val bandPath = bandPathOf(indexPath)
    if (batchId <= DeltaLikeSink.lastCommittedBatchIn(docPath, queryId)) return
    val sigCommitted =
      batchId <= DeltaLikeSink.lastCommittedBatchIn(sigPath, queryId)
    // on the normal path the batch's kept sig rows stay in memory and
    // feed the band append directly (round 15: one fewer read-back job
    // chain per trigger); only a replay re-reads them from the table
    var keptSigsInMem: DataFrame = null
    val keepIds =
      if (sigCommitted) {
        // decision durable from a prior attempt: recover it from the
        // batch's own appended files (their ingest_batch stats are
        // exact, so the read is file-pruned to this batch)
        DeltaLikeTable.readPruned(spark, sigPath,
          Seq(org.apache.spark.sql.sources.EqualTo("ingest_batch", batchId)))
          .where(col("ingest_batch") === batchId)
          .select(col(idCol))
      } else {
        val batchSigs = NearDup
          .signatureRows(batch.select(col(idCol), col(textCol)), idCol,
            textCol, numHashes)
          .localCheckpoint() // consumers: verdicts + the sig append
        val keep = NearDup.bandedNearDupVerdicts(
          batchSigs,
          bhs =>
            if (bhs.isEmpty)
              DeltaLikeTable.forPath(spark, bandPath).toDF.limit(0)
            else DeltaLikeTable.readPruned(spark, bandPath,
              Seq(org.apache.spark.sql.sources.In("bh",
                bhs.map(v => v: Any).toArray))),
          ids => DeltaLikeTable.readPruned(spark, sigPath,
            ids.map(l => Seq[org.apache.spark.sql.sources.Filter](
              org.apache.spark.sql.sources.In(idCol, l.toArray)))
              .getOrElse(Seq.empty)),
          idCol, threshold, bands, numHashes)
          .where(col("keep"))
          .select(col(idCol))
          .localCheckpoint() // decided once: the sig, band and doc appends read it
        val keptSigs = batchSigs.join(keep, Seq(idCol))
          .withColumn("ingest_batch",
            org.apache.spark.sql.functions.lit(batchId))
        DeltaLikeSink.appendBatch(sigPath, queryId)(keptSigs, batchId)
        keptSigsInMem = keptSigs
        keep
      }
    if (batchId > DeltaLikeSink.lastCommittedBatchIn(bandPath, queryId)) {
      // derived relation: on the normal path the rows just appended to
      // the sig table are still in memory (checkpointed batchSigs ⋈
      // checkpointed keep) — exactly the rows the append wrote; a
      // replay (keptSigsInMem null) rebuilds from the sig table's
      // batch-pruned files. Commit order: sig → band → docs.
      val keptSigs =
        if (keptSigsInMem != null) keptSigsInMem
        else DeltaLikeTable.readPruned(spark, sigPath,
          Seq(org.apache.spark.sql.sources.EqualTo("ingest_batch", batchId)))
          .where(col("ingest_batch") === batchId)
      DeltaLikeSink.appendBatch(bandPath, queryId)(
        NearDup.bandRows(keptSigs, idCol, "sig", numHashes, bands), batchId)
    }
    DeltaLikeSink.appendBatch(docPath, queryId)(
      batch.join(keepIds, Seq(idCol)), batchId)
  }

  /** Declared q283: q278's ingest loop over the BAND-BUCKETED persisted
    * index — same seed corpus, same three ascending-id micro-batches,
    * same keep semantics (the oracle IS q278's SQL), but each trigger's
    * corpus touch is two file-pruned point lookups instead of a full
    * index scan. Sharing q278's oracle driver-checks that pruning never
    * changes a verdict; the per-trigger cost claim is measured by
    * `IngestLadder` in banded mode (BASELINE.md).
    */
  def q283StreamIngestBanded(spark: SparkSession, d: String): DataFrame =
    replayIngest(spark, d, "banded") { dir =>
      appendDedupedBanded(dir.resolve("tbl").toString,
        dir.resolve("_idx").toString, "q283", "doc_id", "text", threshold = 0.6)
    }

  /** Declared q281: q278's ingest loop with the PERSISTED signature
    * index — same seed corpus, same three ascending-id micro-batches,
    * same keep semantics (the oracle IS q278's), but each trigger reads
    * only the signature table (id + hash arrays) and the batch; corpus
    * TEXT is never re-scanned after the one-time index backfill. The
    * final relation must be identical to q278's, which is exactly what
    * sharing the oracle asserts.
    */
  def q281StreamIngestIndexed(spark: SparkSession, d: String): DataFrame =
    replayIngest(spark, d, "indexed") { dir =>
      appendDedupedIndexed(dir.resolve("tbl").toString,
        dir.resolve("_sig").toString, "q281", "doc_id", "text", threshold = 0.6)
    }
}

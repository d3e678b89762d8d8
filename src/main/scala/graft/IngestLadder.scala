package graft

import org.apache.spark.sql.functions.col

/** Per-trigger cost ladder for the PERSISTED-signature ingest loop
  * (q281's `IngestDedup.appendDedupedIndexed`) — the measurement behind
  * the "per-trigger cost tracks the batch and its collision set, not
  * the corpus text" claim in `IngestDedup`'s scaladoc.
  *
  * Protocol: the corpus is the given fixture dir's documents table
  * MINUS a held-out batch range; the batch is ALWAYS the sf0.1 docs in
  * that range (identical content at every rung, so trigger cost is
  * comparable). The corpus table + signature index are seeded once
  * (timed separately as `seed_sec`), then the batch streams in as
  * `nTriggers` equal id-range triggers through the exactly-once indexed
  * append, each timed for wall and process-CPU.
  *
  * Run at 1× (`/root/testdata/sf0.1`) and 10× (`tools/scale_corpus.py`
  * output): per-trigger wall at 10× measures how much of the trigger
  * is corpus-index-linear (the band hashes of the (id, sig) index —
  * metadata-sized) vs batch-linear. Corpus TEXT is never re-read after
  * the seed, at any rung.
  *
  * Usage: IngestLadder <corpusDir> [tag] [mode]   (one JSON line;
  * mode = "indexed" (default, the q281 flat (id, sig) index) or
  * "banded" (the q283 band-bucketed index — candidate generation and
  * verification both read PRUNED bucket subsets))
  */
object IngestLadder {
  private val BatchLo = 0L
  private val BatchHi = 500L
  private val NTriggers = 5

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val tag = if (args.length > 1) args(1) else dir
    val mode = if (args.length > 2) args(2) else "indexed"
    require(mode == "indexed" || mode == "banded",
      s"mode must be indexed|banded, got $mode")
    val spark = graft.core.GraftSession.local("ingest-ladder")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // batch: FIXED content from sf0.1 regardless of rung
    val batchAll = graft.core.Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") >= BatchLo && col("doc_id") < BatchHi)
      .localCheckpoint()
    // corpus: the rung's docs minus the held-out range (shifted scale
    // copies have doc_id >= 1e6, so only copy 0's range is held out)
    val corpus = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < BatchLo || col("doc_id") >= BatchHi)
    val corpusCount = corpus.count()

    val scratch = java.nio.file.Files.createTempDirectory("graft_ladder")
    // the scratch tree is a full corpus copy + index — large at the
    // 10x rung; delete it on EVERY exit path, not just success
    try {
      val tbl = scratch.resolve("tbl").toString
      val sig = scratch.resolve("sig").toString
      val seedT0 = System.nanoTime()
      graft.tables.DeltaLikeTable.write(corpus, tbl, "overwrite")
      if (mode == "banded")
        graft.streaming.IngestDedup.seedBandedIndex(corpus, sig,
          "doc_id", "text")
      else
        graft.streaming.IngestDedup.seedSignatureIndex(corpus, sig,
          "doc_id", "text")
      val seedSec = (System.nanoTime() - seedT0) / 1e9

      val triggers = (0 until NTriggers).map { i =>
        val lo = BatchLo + (BatchHi - BatchLo) * i / NTriggers
        val hi = BatchLo + (BatchHi - BatchLo) * (i + 1) / NTriggers
        val b = batchAll.where(col("doc_id") >= lo && col("doc_id") < hi)
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        if (mode == "banded")
          graft.streaming.IngestDedup.appendDedupedBanded(tbl, sig,
            "ladder", "doc_id", "text", threshold = 0.6)(b, i.toLong)
        else
          graft.streaming.IngestDedup.appendDedupedIndexed(tbl, sig,
            "ladder", "doc_id", "text", threshold = 0.6)(b, i.toLong)
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (osBean.getProcessCpuTime - c0) / 1e9
        (wall, cpu)
      }

      val admitted = spark.read.format("deltalike").load(tbl)
        .where(col("doc_id") >= BatchLo && col("doc_id") < BatchHi).count()

      def arr(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
      println(s"""{"metric":"ingest_ladder","rung":"$tag","mode":"$mode","corpus_docs":$corpusCount,""" +
        s""""batch_docs":${BatchHi - BatchLo},"n_triggers":$NTriggers,""" +
        s""""seed_sec":${f"$seedSec%.3f"},"trigger_wall":${arr(triggers.map(_._1))},""" +
        s""""trigger_cpu":${arr(triggers.map(_._2))},"admitted":$admitted}""")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(scratch).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
    spark.stop()
  }
}

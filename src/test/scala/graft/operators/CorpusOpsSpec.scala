package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

class CorpusOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.local("corpus-ops-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  test("weightedSample: exact k, deterministic, heavier rows favored, zero-weight excluded") {
    val sp = spark; import sp.implicits._
    // 200 light rows (w=1) vs 200 heavy rows (w=50) vs zero-weight rows
    val docs = ((1L to 200L).map(i => (i, 1.0)) ++
      (201L to 400L).map(i => (i, 50.0)) ++
      (401L to 410L).map(i => (i, 0.0))).toDF("id", "w")
    val out = CorpusOps.weightedSample(docs, "id", col("w"), k = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.length === 100)
    assert(out.map(_._1).distinct.length === 100, "replacement happened")
    assert(!out.exists(_._1 > 400L), "zero-weight row sampled")
    // E-S keys make P(heavy) = 50/51 per slot; 100 draws from this pool
    // put >85 heavy rows in the sample except with vanishing probability
    assert(out.count(_._2 == 50.0) > 85, s"heavy count ${out.count(_._2 == 50.0)}")
    // md5-derived keys: a re-run is identical
    val again = CorpusOps.weightedSample(docs, "id", col("w"), k = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq === again.toSeq)
  }

  test("decontaminate flags a corpus doc embedding a benchmark doc verbatim") {
    val sp = spark; import sp.implicits._
    val benchmark = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val corpus = Seq(
      // benchmark text fully embedded in a longer doc → containment of
      // the BENCHMARK'S shingles in it is partial, but of its own
      // shingles vs benchmark: high overlap region
      (10L, "prefix words here the quick brown fox jumps over the lazy dog and a suffix"),
      (11L, "completely different content with no shared trigrams at all whatsoever"),
      (12L, "the quick brown fox jumps over the lazy dog")) // exact copy
      .toDF("id", "text")
    val got = CorpusOps.decontaminate(corpus, benchmark, "id", "text", threshold = 0.6)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(got(12L)._1 === 1.0) // identical doc: full containment
    assert(got(12L)._2)
    assert(got(11L)._1 === 0.0) // disjoint doc: zero, still reported
    assert(!got(11L)._2)
    assert(got(10L)._1 > 0.3 && got(10L)._1 < 1.0) // embedded: partial
  }

  test("token shards: totals conserve tokens, fill order is by id, budget respected") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val budget = 500L
    val shards = CorpusOps.tokenShards(docs, "doc_id", "text", budget)
      .orderBy("shard_id").collect()
    val corpusTokens = docs.select(sum(size(split(col("text"), " "))))
      .head().getLong(0)
    assert(shards.map(_.getLong(2)).sum === corpusTokens, "tokens conserved")
    assert(shards.map(_.getLong(0)).toSeq ===
      (0L until shards.length).toSeq, "contiguous shard ids")
    // every shard STARTS before its budget boundary is crossed: a shard's
    // cumulative start position is shard_id * budget by construction, so
    // all but the last must carry at least one doc and cross the boundary
    val allBut = shards.dropRight(1)
    assert(allBut.forall(_.getLong(1) >= 1))
    // partition-count independence: same result at parallelism 1
    val single = CorpusOps.tokenShards(
      docs.coalesce(1), "doc_id", "text", budget).orderBy("shard_id").collect()
    assert(single.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      shards.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
      "shard assignment must not depend on physical partitioning")
  }

  test("stratified sample is deterministic and rate-proportional") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    def run() = CorpusOps.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5), defaultRate = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(run() === run(), "same input → same sample, no RNG state")

    val sampled = CorpusOps.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5), defaultRate = 0.2)
    val byLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = byLang("en").toDouble / totals("en")
    assert(enRate > 0.35 && enRate < 0.65, s"en rate $enRate far from 0.5")
    val otherKept = (byLang - "en").values.sum.toDouble
    val otherTotal = (totals - "en").values.sum.toDouble
    val otherRate = otherKept / otherTotal
    assert(otherRate > 0.1 && otherRate < 0.3, s"other rate $otherRate far from 0.2")
  }

  test("domain cap keeps exactly `cap` best docs per domain, deterministic order") {
    val sp = spark; import sp.implicits._
    val docs = (1 to 30).map(i =>
      (i.toLong, s"d${i % 3}", (i % 7).toLong)).toDF("id", "host", "len")
    val kept = CorpusOps.domainCap(docs, "id", "host", "len", 4).collect()
    assert(kept.length === 12) // 3 domains × cap 4
    // the kept set must be exactly the reference ranking computed in
    // plain Scala: per domain, highest len first, lowest id tiebreak
    val expected = (1 to 30).map(i => (i.toLong, s"d${i % 3}", (i % 7).toLong))
      .groupBy(_._2).values
      .flatMap(_.sortBy { case (id, _, len) => (-len, id) }.take(4))
      .map(_._1).toSet
    assert(kept.map(_.getLong(0)).toSet === expected)
    // a domain under its cap is untouched
    val small = CorpusOps.domainCap(
      Seq((1L, "only", 5L)).toDF("id", "host", "len"), "id", "host", "len", 4)
    assert(small.count() === 1)
  }

  test("chunking: coverage, overlap stitching, and the exact-multiple edge") {
    val sp = spark; import sp.implicits._
    def doc(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    // 80 tokens, chunk 32, overlap 8 → starts 0,24,48 and NO empty chunk
    // at 72 (80-32=48 divides stride 24 exactly — the edge the formula
    // subtracts for)
    val exact = CorpusOps.chunk(
      Seq((1L, doc(80))).toDF("doc_id", "text"), "doc_id", "text", 32, 8)
      .orderBy("chunk_idx").collect()
    assert(exact.length === 3)
    assert(exact.map(_.getAs[Int]("chunk_tokens")).toSeq === Seq(32, 32, 32))
    assert(exact.last.getAs[String]("chunk_text").endsWith("t80"))

    // 70 tokens → starts 0,24,48: tail chunk is short (70-48=22 tokens)
    val ragged = CorpusOps.chunk(
      Seq((1L, doc(70))).toDF("doc_id", "text"), "doc_id", "text", 32, 8)
      .orderBy("chunk_idx").collect()
    assert(ragged.map(_.getAs[Int]("chunk_tokens")).toSeq === Seq(32, 32, 22))

    // every token of the doc appears in some chunk (coverage), and
    // consecutive chunks share exactly `overlap` tokens
    val c0 = ragged(0).getAs[String]("chunk_text").split(" ")
    val c1 = ragged(1).getAs[String]("chunk_text").split(" ")
    assert(c0.takeRight(8).toSeq === c1.take(8).toSeq)

    // shorter than one chunk → the doc itself, once
    val tiny = CorpusOps.chunk(
      Seq((1L, doc(5))).toDF("doc_id", "text"), "doc_id", "text", 32, 8).collect()
    assert(tiny.length === 1 && tiny.head.getAs[Int]("chunk_tokens") === 5)
  }

  test("chunk_tokens UDTF: bit-for-bit parity with the HOF chunker") {
    val sp = spark; import sp.implicits._
    def viaUdtf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), expr("chunk_tokens(text, 32, 8)"))
    def viaHof(df: org.apache.spark.sql.DataFrame) =
      CorpusOps.chunk(df, "doc_id", "text", 32, 8)
    // the real fixture: every document, full row set, exact equality
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val u = viaUdtf(docs).collect().map(_.toSeq).toSet
    val h = viaHof(docs).collect().map(_.toSeq).toSet
    assert(u === h, "UDTF and HOF chunkers diverged on the fixture")
    assert(u.nonEmpty)
    // edge cases the fixture may not cover: empty doc (split("")=[""]
    // → one empty chunk), consecutive/trailing spaces (empty tokens
    // survive the round-trip), single token, exact stride multiple
    val edges = Seq(
      (1L, ""), (2L, "one"), (3L, "a  b "),
      (4L, (1 to 80).map(i => s"t$i").mkString(" ")),
      (5L, (1 to 70).map(i => s"t$i").mkString(" "))
    ).toDF("doc_id", "text")
    val ue = viaUdtf(edges).collect().map(_.toSeq).toSet
    val he = viaHof(edges).collect().map(_.toSeq).toSet
    assert(ue === he, "UDTF and HOF chunkers diverged on edge docs")
    // null text → no rows, matching posexplode-over-null
    val withNull = Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(viaUdtf(withNull).count() === 0L)
  }

  test("deterministic shuffle: same seed = same order, new seed = new permutation") {
    val sp = spark; import sp.implicits._
    val docs = (1 to 200).map(i => (i.toLong, s"d$i")).toDF("id", "t")
      .repartition(7) // order must not depend on physical layout
    def order(seed: String): Seq[Long] =
      CorpusOps.deterministicShuffle(docs, "id", seed)
        .orderBy("position").select("id").collect().map(_.getLong(0)).toSeq
    val e0a = order("epoch0")
    val e0b = order("epoch0")
    val e1 = order("epoch1")
    assert(e0a === e0b, "same seed must reproduce the identical order")
    assert(e0a !== e1, "different seeds must permute differently")
    assert(e0a.sorted === (1L to 200L), "every doc exactly once")
    assert(e0a !== (1L to 200L).toSeq, "hash order must not be insertion order")
  }

  test("length-bucketed batches: bounded batch size, bounded padding waste") {
    val sp = spark; import sp.implicits._
    val docs = (1 to 100).map(i => (i.toLong, (i * 7 % 330).toLong)).toDF("id", "len")
    val out = CorpusOps.lengthBucketedBatches(docs, "id", "len", 50, 8)
      .join(docs, "id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("bucket"), r.getAs[Long]("batch_idx"),
        r.getAs[Long]("len")))
    // every (bucket, batch) holds at most 8 docs
    out.groupBy(t => (t._2, t._3)).foreach { case (_, g) =>
      assert(g.length <= 8)
      // padding bound: within one batch, max-min length < bucket width
      val lens = g.map(_._4)
      assert(lens.max - lens.min < 50,
        s"batch spans ${lens.min}..${lens.max}, exceeds the 50-char bucket")
    }
    assert(out.map(_._1).distinct.length === 100)
  }

  test("corpus digest: order/partitioning-invariant, content-sensitive") {
    val sp = spark; import sp.implicits._
    val docs = (1 to 300).map(i => (i.toLong, s"text $i", if (i % 2 == 0) "a" else "b"))
      .toDF("id", "text", "src")
    def digest(df: org.apache.spark.sql.DataFrame) =
      CorpusOps.corpusDigest(df, "src", Seq("id", "text"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val base = digest(docs)
    // any partitioning / row order produces the identical digest
    assert(digest(docs.repartition(7).orderBy(org.apache.spark.sql.functions.rand(1))) === base)
    // one changed character in one doc flips exactly that source's digest
    val mutated = docs.withColumn("text",
      org.apache.spark.sql.functions.when($"id" === 42L,
        org.apache.spark.sql.functions.lit("text 42!")).otherwise($"text"))
    val changed = digest(mutated)
    assert(changed("a") !== base("a"))
    assert(changed("b") === base("b"))
  }

  test("mixture: weights hit within tolerance, upsampling emits distinct copies, reruns agree") {
    val sp = spark; import sp.implicits._
    val n = 2000
    val docs = (1 to n).map(i => (i.toLong, s"d$i")).toDF("id", "v")
    val out = CorpusOps.mixSources(
      Seq(("a", docs, 2.3), ("b", docs, 0.4)), "id")
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // E[a] = 2.3n (2 full copies + 0.3 sample), E[b] = 0.4n; sd ~ sqrt(n·p(1-p))
    assert(math.abs(bySource("a") - 2.3 * n) < 4 * math.sqrt(n * 0.3 * 0.7),
      s"source a emitted ${bySource("a")}, expected ~${2.3 * n}")
    assert(math.abs(bySource("b") - 0.4 * n) < 4 * math.sqrt(n * 0.4 * 0.6),
      s"source b emitted ${bySource("b")}, expected ~${0.4 * n}")
    // copies of one row are distinct (copy index) and deterministic
    val copies = out.where("source = 'a'").groupBy("id").count()
      .collect().map(_.getLong(1))
    assert(copies.forall(c => c == 2 || c == 3), "each row appears 2 or 3 times")
    val rerun = CorpusOps.mixSources(Seq(("a", docs, 2.3), ("b", docs, 0.4)), "id")
    assert(rerun.exceptAll(out).count() === 0 && out.exceptAll(rerun).count() === 0)
  }

  test("packSequences: every doc packed once, packs respect the budget, order deterministic") {
    val sp = spark; import sp.implicits._
    // controlled token counts: "t" * k → k tokens; id 40 is oversized (12 > budget 10)
    val docs = Seq(
      (1L, 4), (2L, 4), (3L, 4), (4L, 3), (5L, 7),
      (40L, 12), (41L, 2), (42L, 9), (43L, 1), (44L, 10))
      .map { case (id, k) => (id, Seq.fill(k)("t").mkString(" ")) }
      .toDF("id", "text")
    val out = CorpusOps.packSequences(docs, "id", "text", budget = 10, numShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._2).sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L, 5L, 40L, 41L, 42L, 43L, 44L), "every doc exactly once")
    // within a (shard, pack): total ≤ budget unless it is a single oversized doc
    out.groupBy(t => (t._1, t._4)).foreach { case (_, rows) =>
      val tot = rows.map(_._3).sum
      assert(tot <= 10 || rows.length == 1,
        s"pack over budget with ${rows.length} docs, $tot tokens")
    }
    // pack ids are contiguous from 1 and non-decreasing in id order per shard
    out.groupBy(_._1).foreach { case (_, rows) =>
      val byId = rows.sortBy(_._2)
      assert(byId.map(_._4).toSeq === byId.map(_._4).sorted.toSeq,
        "pack id non-decreasing along the walk")
      assert(byId.map(_._4).distinct.toSeq === (1L to byId.map(_._4).max).toSeq,
        "pack ids contiguous from 1")
    }
    // next-fit, not first-fit: a doc that does not fit NEVER lands in an
    // earlier pack, so ids in pack p all precede ids in pack p+1
    out.groupBy(_._1).foreach { case (_, rows) =>
      rows.groupBy(_._4).toSeq.sortBy(_._1).map(_._2.map(_._2).max)
        .sliding(2).foreach {
          case Seq(a, b) => assert(a < b)
          case _ =>
        }
    }
    // physical partitioning must not leak into the result
    val single = CorpusOps.packSequences(
      docs.coalesce(1), "id", "text", budget = 10, numShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(single.sorted.toSeq === out.sorted.toSeq)
  }

  test("importanceSample: deterministic, extreme weights honored, rate tracks the weight") {
    val sp = spark; import sp.implicits._
    val n = 4000
    val docs = (1 to n).map(i => (i.toLong, s"d$i")).toDF("id", "text")
    // weight 1 keeps everything, weight 0 drops everything
    assert(CorpusOps.importanceSample(docs, "id", lit(1.0)).count() === n)
    assert(CorpusOps.importanceSample(docs, "id", lit(0.0)).count() === 0)
    // keep rate tracks an intermediate weight (binomial ±4σ)
    val kept = CorpusOps.importanceSample(docs, "id", lit(0.3)).count()
    assert(math.abs(kept - 0.3 * n) < 4 * math.sqrt(n * 0.3 * 0.7),
      s"kept $kept of $n at weight 0.3")
    // reruns and physical partitioning do not change membership
    def ids(df: org.apache.spark.sql.DataFrame) =
      CorpusOps.importanceSample(df, "id", lit(0.3))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(docs) === ids(docs.coalesce(1)))
    // different salts decorrelate the draws (same weight, different members)
    val a = CorpusOps.importanceSample(docs, "id", lit(0.3), salt = "a")
      .select("id").collect().map(_.getLong(0)).toSet
    val b = CorpusOps.importanceSample(docs, "id", lit(0.3), salt = "b")
      .select("id").collect().map(_.getLong(0)).toSet
    assert((a -- b).nonEmpty && (b -- a).nonEmpty)
  }

  test("packSequences: randomized invariants hold across budgets and shard counts") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(123)
    for (trial <- 0 until 3) {
      val budget = Seq(8, 25, 64)(trial)
      val shards = Seq(1, 4, 7)(trial)
      val docs = (0 until 300).map { i =>
        // token counts 1..(1.5*budget): some oversized docs guaranteed
        (i.toLong, Seq.fill(1 + rnd.nextInt(budget * 3 / 2))("t").mkString(" "))
      }.toDF("id", "text")
      val out = CorpusOps.packSequences(docs, "id", "text", budget, shards)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.map(_._2).sorted.toSeq === (0L until 300L), s"trial $trial: bijection")
      out.groupBy(t => (t._1, t._4)).foreach { case ((s, p), rows) =>
        assert(rows.map(_._3).sum <= budget || rows.length == 1,
          s"trial $trial shard $s pack $p: over budget with ${rows.length} docs")
      }
      // greedy tightness: consecutive packs cannot be merged — the first
      // doc of pack p+1 did NOT fit into pack p (that is what next-fit means)
      out.groupBy(_._1).foreach { case (s, rows) =>
        val packs = rows.groupBy(_._4).toSeq.sortBy(_._1)
        packs.sliding(2).foreach {
          case Seq((_, a), (_, b)) =>
            val fillA = a.map(_._3).sum
            val firstB = b.minBy(_._2)._3
            assert(fillA + firstB > budget,
              s"trial $trial shard $s: next-fit would have continued the pack")
          case _ =>
        }
      }
    }
  }

  test("clusterSplit: a cluster never straddles splits, fractions track, bad fracs rejected") {
    val sp = spark; import sp.implicits._
    // 1000 clusters of 3 members each
    val rows = (0 until 1000).flatMap(c => (0 until 3).map(m => (c * 10L + m, c.toLong)))
    val df = rows.toDF("id", "cluster")
    val out = CorpusOps.clusterSplit(df, "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length === 3000)
    // leakage-freedom: every cluster maps to exactly one split
    out.groupBy(_._2).foreach { case (c, members) =>
      assert(members.map(_._3).distinct.length === 1,
        s"cluster $c straddles splits: ${members.map(_._3).distinct.toSeq}")
    }
    // fractions at the CLUSTER level (±4σ binomial on 1000 draws)
    val perCluster = out.groupBy(_._2).map(_._2.head._3).toSeq
    val train = perCluster.count(_ == "train")
    val vl = perCluster.count(_ == "val")
    assert(math.abs(train - 800) < 4 * math.sqrt(1000 * 0.8 * 0.2), s"train=$train")
    assert(math.abs(vl - 100) < 4 * math.sqrt(1000 * 0.1 * 0.9), s"val=$vl")
    // deterministic across partitionings
    val again = CorpusOps.clusterSplit(df.coalesce(1), "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(again.sorted.toSeq === out.sorted.toSeq)
    // degenerate fractions are refused
    intercept[IllegalArgumentException] {
      CorpusOps.clusterSplit(df, "cluster", trainFrac = 0.9, valFrac = 0.2)
    }
  }

  test("calibrateQuality: per-source percentiles are scale-free and span [0,1]") {
    val sp = spark; import sp.implicits._
    // source a scores in [0.9, 1.0]; source b in [0.0, 0.1]: raw-score
    // thresholding would drop ALL of b — calibration must not
    val docs = ((1 to 100).map(i => (i.toLong, "a", 0.9 + i / 1000.0)) ++
      (1 to 100).map(i => (1000L + i, "b", i / 1000.0)))
      .toDF("id", "src", "s")
    val out = CorpusOps.calibrateQuality(docs, "id", "src", col("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
    val bySrc = out.groupBy(_._2)
    bySrc.foreach { case (src, rows) =>
      val ps = rows.map(_._3)
      assert(math.abs(ps.min) < 1e-12 && math.abs(ps.max - 1.0) < 1e-12,
        s"source $src percentiles must span [0,1]")
    }
    // the same keep-fraction applies to each source under one threshold
    val keptA = bySrc("a").count(_._3 >= 0.8)
    val keptB = bySrc("b").count(_._3 >= 0.8)
    assert(keptA === keptB, "calibration equalizes the kept fraction per source")
  }

  test("importanceSample is streaming-safe: stream membership equals batch membership") {
    // the keep rule is a stateless per-row expression (md5 uniform vs
    // weight) — the SAME curation step must run incrementally over a
    // document stream with no state store and no re-scoring drift
    val dir = tempDirs("corpstream")
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    docs.repartition(4).write.mode("overwrite").parquet(dir)

    val toks = split(col("text"), " ")
    val weight = size(array_distinct(toks)).cast("double") /
      size(toks).cast("double")
    val schema = docs.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = CorpusOps.importanceSample(stream, "doc_id", weight)
      .writeStream.format("memory").queryName("imp_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("imp_stream").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val want = CorpusOps.importanceSample(
        spark.read.schema(schema).parquet(dir), "doc_id", weight)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === want, "stream and batch must keep the same documents")
      assert(got.nonEmpty && got.length < 500, "a nontrivial subset is kept")
    } finally q.stop()
  }

  test("sourceDivergence: zero for an identical-mix source, positive for a skewed one") {
    val sp = spark; import sp.implicits._
    // two sources with the SAME distribution → both KL ≈ 0 (each equals the mix)
    val same = Seq(
      ("a", "x x y"), ("a", "x y y"),
      ("b", "x x y"), ("b", "x y y")).toDF("src", "text")
    val klSame = CorpusOps.sourceDivergence(same, "src", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(klSame.values.forall(v => math.abs(v) < 1e-12), s"expected 0, got $klSame")

    // a source disjoint from the rest diverges; KL is never negative
    val skew = Seq(
      ("a", "x x x x"), ("b", "y y y y"), ("b", "x y y y")).toDF("src", "text")
    val got = CorpusOps.sourceDivergence(skew, "src", "text")
    val rows = got.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows("a")._2 > 0.5, "disjoint-heavy source should diverge strongly")
    assert(rows.values.forall(_._2 >= -1e-12), "KL(p‖mix) is non-negative")
    assert(rows.values.map(_._1).sum ===
      skew.select(sum(size(split(col("text"), " ")))).head().getLong(0),
      "per-source token totals conserve the corpus total")
  }

  test("rendezvousRoute: deterministic, covers every doc, minimal disruption on shard removal") {
    val sp = spark; import sp.implicits._
    val docs = (0L until 400L).toDF("doc_id")
    val r10 = CorpusOps.rendezvousRoute(docs, "doc_id", shards = 10, salt = "route")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r10.size === 400)
    assert(r10.values.forall(s => s >= 0 && s < 10))
    // every shard gets a nontrivial share (no degenerate hashing)
    val byShard = r10.values.groupBy(identity).view.mapValues(_.size)
    assert(byShard.size === 10 && byShard.values.forall(_ > 10), s"skewed: $byShard")
    // THE rendezvous property: dropping shard 9 must only move the
    // documents that were ON shard 9 — everyone else's argmax over the
    // remaining weights is unchanged
    val r9 = CorpusOps.rendezvousRoute(docs, "doc_id", shards = 9, salt = "route")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    r10.foreach { case (id, s10) =>
      if (s10 < 9) assert(r9(id) === s10, s"doc $id moved without cause")
      else assert(r9(id) < 9, s"doc $id must be re-routed off the dropped shard")
    }
    // stable across runs (pure function of the id)
    val again = CorpusOps.rendezvousRoute(docs, "doc_id", 10, "route")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again === r10)
  }

  test("stratifiedSample: exact ceil(frac*n_h) per stratum, deterministic, subset") {
    val sp = spark; import sp.implicits._
    // strata of very different sizes: 50 / 10 / 3
    val rows = ((1 to 50).map(i => ("big", i.toLong)) ++
      (1 to 10).map(i => ("mid", 100L + i)) ++
      (1 to 3).map(i => ("tiny", 200L + i))).toDF("source", "doc_id")
    val s = CorpusOps.stratifiedSample(rows, "source", "doc_id", 0.2, "t")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bySrc = s.groupBy(_._1).view.mapValues(_.length).toMap
    assert(bySrc === Map("big" -> 10, "mid" -> 2, "tiny" -> 1))
    // all sampled ids exist in the input
    assert(s.forall { case (src, id) => src match {
      case "big" => id >= 1 && id <= 50
      case "mid" => id > 100 && id <= 110
      case _ => id > 200 && id <= 203
    }})
    // pure function of (salt, id): stable resample
    val again = CorpusOps.stratifiedSample(rows, "source", "doc_id", 0.2, "t")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(again.sorted.toSeq === s.sorted.toSeq)
    // different salt draws a (very likely) different big-stratum set,
    // but always the same exact count
    val other = CorpusOps.stratifiedSample(rows, "source", "doc_id", 0.2, "u")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(other.count(_._1 == "big") === 10)
  }

  test("logOddsKeywords: a token exclusive to one source tops that source") {
    val sp = spark; import sp.implicits._
    val shared = "alpha beta gamma delta"
    val docs = Seq(
      (1L, "s1", shared + " quirk quirk quirk"),
      (2L, "s1", shared + " quirk quirk"),
      (3L, "s2", shared + " plain"),
      (4L, "s2", shared)).toDF("doc_id", "source", "text")
    val out = CorpusOps.logOddsKeywords(docs, "source", "text",
      a0 = 10.0, perSource = 2).collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(-_.getAs[Double]("log_odds_z"))
        .map(_.getAs[String]("token")).toSeq).toMap
    assert(out("s1").head === "quirk")
    assert(out("s2").head === "plain")
    // z-scores are symmetric-ish: the exclusive token's z in its home
    // source is strongly positive
    val z = CorpusOps.logOddsKeywords(docs, "source", "text",
      a0 = 10.0, perSource = 2).collect()
      .find(r => r.getString(0) == "s1" && r.getString(1) == "quirk").get
      .getAs[Double]("log_odds_z")
    assert(z > 0.5)
  }

  test("filterCascade: each doc dies at its FIRST failing gate") {
    val sp = spark; import sp.implicits._
    val pass = (1 to 30).map(i => s"w$i").mkString(" ")  // 30 distinct tokens
    val short = "just five little words here"
    // long enough but one token repeated: fails repetition, which must
    // ALSO shadow any later gate
    val repet = Seq.fill(30)("spam").mkString(" ")
    // 25 DISTINCT 20-char tokens (identical tokens would die at the
    // repetition gate first)
    val soup = (1 to 25).map(i => "x" * 18 + f"$i%02d").mkString(" ")
    val docs = Seq((1L, pass), (2L, short), (3L, repet), (4L, soup))
      .toDF("doc_id", "text")
    val out = CorpusOps.filterCascade(docs, "text").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Double]("frac"))).toMap
    assert(out === Map(
      "1_too_short" -> ((1L, 0.25)), "2_repetitive" -> ((1L, 0.25)),
      "3_token_soup" -> ((1L, 0.25)), "4_pass" -> ((1L, 0.25))))
  }

  test("temperatureMixture: closed-form 81/1 split at alpha=0.5; alpha=1 is natural") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    val df = ((1 to 81).map(_ => "big") ++ Seq("small")).toDF("g")
    val out = CorpusOps.temperatureMixture(df, "g", alpha = 0.5)
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("natural_share"),
          r.getAs[Double]("temp_share"), r.getAs[Double]("boost"))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // ptot = sqrt(81) + sqrt(1) = 10
    assert(out("big") === ((81L, r6(81.0 / 82), 0.9, r6(0.9 / (81.0 / 82)))))
    assert(out("small") === ((1L, r6(1.0 / 82), 0.1, r6(0.1 * 82))))
    // alpha = 1 reproduces the natural distribution exactly (boost 1)
    val nat = CorpusOps.temperatureMixture(df, "g", alpha = 1.0)
      .collect().map(r => r.getAs[Double]("boost"))
    assert(nat.forall(_ === 1.0))
  }

  test("bpePairCounts: hand pair ladder, frequency weighting, length gates") {
    val sp = spark; import sp.implicits._
    // vocab: "abab" x2, "ab" x1, "x" (dropped, len<2). Pairs:
    //   abab -> ab, ba, ab (2 x ab, 1 x ba) at f=2; ab -> ab at f=1
    // totals: ab = 2*2 + 2*1... wait: per OCCURRENCE in the word,
    // weighted by word freq: ab appears twice in "abab" (f=2) -> 4,
    // plus once in "ab" (f=1) -> total 5, n_words 2;
    // ba once in "abab" -> total 2, n_words 1
    val docs = Seq("abab ab abab x").toDF("text")
    val out = CorpusOps.bpePairCounts(docs, "text", k = 10)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("pair"),
        r.getAs[Long]("n_words"), r.getAs[Long]("total")))
    assert(out.toSeq === Seq((1, "ab", 2L, 5L), (2, "ba", 1L, 2L)))
  }

  test("bpePairCounts: ladder tie breaks to the lexicographically smaller pair") {
    val sp = spark; import sp.implicits._
    val docs = Seq("zy ab").toDF("text")
    val out = CorpusOps.bpePairCounts(docs, "text", k = 2)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("pair")))
    assert(out.toSeq === Seq((1, "ab"), (2, "zy")))
  }

  test("sourceOverlap: hand Jaccard, self-pairs and empty intersections absent") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      ("s1", "a b c d"),        // shingles: "a b c", "b c d"
      ("s2", "a b c d"),        // identical -> jaccard 1 with s1
      ("s2", "a b c"),          // duplicate shingle, distinct-collapsed
      ("s3", "x y z w"),        // disjoint -> no row with s1/s2
      ("s4", "b c d e")         // shares "b c d" with s1/s2
    ).toDF("source", "text")
    val out = CorpusOps.sourceOverlap(docs, "source", "text")
      .collect().map(r => (r.getAs[String]("src_a"),
        r.getAs[String]("src_b")) ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("inter"), r.getAs[Double]("jaccard"))).toMap
    assert(out(("s1", "s2")) === ((2L, 2L, 2L, 1.0)))
    // s4 shingles: "b c d", "c d e" -> inter 1, union 3
    assert(out(("s1", "s4")) === ((2L, 2L, 1L, 0.333333)))
    assert(out(("s2", "s4"))._3 === 1L)
    assert(!out.keySet.exists(p => p._1 == "s3" || p._2 == "s3"),
      "disjoint source must produce no pairs")
    assert(out.keySet.forall(p => p._1 < p._2), "orientation pinned")
  }

  test("sourceJsDivergence: identical mixes 0, half-overlap 0.5 bits, disjoint absent") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      ("s1", "a b"), ("s2", "a b"),   // identical distributions
      ("s3", "a c"),                  // shares only 'a' at p = .5
      ("s4", "x y")                   // disjoint from all
    ).toDF("source", "text")
    val out = CorpusOps.sourceJsDivergence(docs, "source", "text")
      .collect().map(r => (r.getAs[String]("src_a"),
        r.getAs[String]("src_b")) ->
        (r.getAs[Long]("shared_tokens"), r.getAs[Double]("jsd"))).toMap
    assert(out(("s1", "s2")) === ((2L, 0.0)))
    // P={a:.5,b:.5} vs Q={a:.5,c:.5}: shared term 0, each side's
    // unshared half contributes .5*ln2 -> JSD = .5 bit exactly
    assert(out(("s1", "s3")) === ((1L, 0.5)))
    assert(!out.keySet.exists(p => p._1 == "s4" || p._2 == "s4"),
      "token-disjoint pairs are absent by contract")
  }
}

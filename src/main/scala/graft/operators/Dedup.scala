package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** Deduplication operators for a training-data pipeline (E12–E13).
  *
  * Three tiers, by scale behavior:
  *   - [[q30ExactDedup]]: exact duplicate collapse on a content
  *     fingerprint — one hash shuffle; the workhorse at any scale.
  *   - [[q34JaccardPairs]]: *exact* similarity join via a shingle
  *     inverted index — no O(n²) cross join, but the index join's cost
  *     grows with shingle document frequency; right up to ~10⁸ docs.
  *   - [[NearDup.minHashVerifiedPairs]] (declared as q35, all-pairs
  *     oracle): MinHash-LSH candidates + exact verification — candidate
  *     generation is O(n·bands), the scalable path for 100 TB corpora
  *     where even the inverted index is too hot.
  */
object Dedup {

  /** Word 3-gram shingle set (distinct), the unit of textual overlap.
    *
    * Built with slice + zip_with rather than
    * `transform(sequence(...), i -> element_at(toks, i) ...)`: higher-
    * order lambdas are interpreted without common-subexpression
    * elimination, so an `element_at(toks, i)` body re-evaluates the
    * `toks` expression (often a `split`) on every element — O(len²)
    * per document. Here each array argument is evaluated exactly once.
    */
  def shingles(toks: Column): Column = {
    val m = greatest(size(toks) - 2, lit(0))
    val tri = zip_with(
      zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
        (x, y) => concat(x, lit(" "), y)),
      slice(toks, lit(3), m),
      (xy, z) => concat(xy, lit(" "), z))
    array_distinct(tri)
  }

  /** Exact dedup on the bag-of-words fingerprint: md5 of the sorted
    * distinct token set. Near-duplicates that are reorderings/repetitions
    * of the same vocabulary collapse to one representative (min doc_id) —
    * a deterministic keep-first policy the oracle can replay.
    */
  def q30ExactDedup(spark: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(spark, d)
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(toks)))).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
  }

  val q30Sql: String =
    """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
      | min(doc_id) AS keep_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Incremental ingest dedup (declared q53): keep only new-batch docs
    * whose content fingerprint is absent from the existing corpus AND
    * unique within the batch — the daily-ingest shape, where the corpus
    * side is 100 TB and the batch is small. The anti-join shuffles on
    * the fingerprint (Spark's runtime bloom filter prunes the corpus
    * scan when enabled); the within-batch collapse is the q30 rule.
    */
  def incrementalDedup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    def fp(c: Column) =
      md5(concat_ws(" ", array_sort(array_distinct(split(c, " ")))))
    val corpusFp = corpus.select(fp(col(textCol)).as("__fp"))
    batch.select(col(idCol), fp(col(textCol)).as("__fp"))
      .groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
      .join(corpusFp, Seq("__fp"), "left_anti")
      .select(col(idCol), col("__fp").as("fingerprint"))
  }

  /** q53 over the fixture: docs with doc_id < 400 stand in for the
    * existing corpus, the rest for the incoming batch.
    */
  def q53IncrementalDedup(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    incrementalDedup(
      docs.where(col("doc_id") < 400), docs.where(col("doc_id") >= 400),
      "doc_id", "text")
  }

  val q53Sql: String =
    """WITH fp AS (SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS f
      | FROM documents),
      |batch AS (SELECT f, min(doc_id) AS doc_id FROM fp WHERE doc_id >= 400 GROUP BY f)
      |SELECT doc_id, f AS fingerprint FROM batch
      |WHERE f NOT IN (SELECT f FROM fp WHERE doc_id < 400)""".stripMargin

  /** Exact n-gram Jaccard similarity join: all pairs with shingle-set
    * Jaccard ≥ 0.6 — EXACT result, no cross join, with PPJoin-style
    * prefix filtering to keep the candidate space linear-ish:
    *
    *  1. Rank each document's shingles by ascending global document
    *     frequency (rarest first; ties by shingle value).
    *  2. *Prefix filter*: index only each set's first
    *     |S| − ⌈(t/2)·|S|⌉ + 1 rarest shingles. Exactness: if the two
    *     prefixes were disjoint, every shared shingle would lie in one
    *     of the suffixes, so |A∩B| ≤ k_A + k_B < (t/2)(|A|+|B|) ≤
    *     t·max(|A|,|B|) ≤ t·|A∪B| — contradicting J ≥ t. Hot (high-df)
    *     shingles land at the tail of every prefix order and are the
    *     first dropped, which removes the df² blowup that makes naive
    *     inverted-index joins skew at scale.
    *  3. Candidates (pairs sharing ≥1 prefix shingle) get their true
    *     intersection counted against the full postings, then the
    *     exact Jaccard filter |A∩B| / (|A|+|B|−|A∩B|) ≥ t.
    *
    * All stages are hash shuffles; correctness does not depend on the
    * filter (it only prunes provably-below-threshold pairs), and the
    * DuckDB oracle recomputes the naive O(n²) form.
    *
    * `strategy` picks the candidate plan: the full inverted index wins
    * when shingle document frequency is flat, but hot shingles give it
    * a df² candidate blowup on natural-language corpora, where the
    * PPJoin prefix filter keeps candidates bounded. `"auto"` (the
    * declared default) measures the blowup on a document sample — the
    * inverted path's candidate count is exactly Σ df·(df−1)/2, and
    * under p-sampling that statistic scales by p², so a cheap sampled
    * estimate decides. The crossover (`blowupFactor`, candidate rows
    * per document) sits where the inverted join's quadratic candidate
    * work overtakes the prefix plan's constant extra passes — a few
    * hundred row-units per doc. Both plans are exact — the equivalence
    * and the hot-corpus candidate bound are spec-pinned.
    */
  def q34JaccardPairs(spark: SparkSession, d: String): DataFrame =
    jaccardSimilarityJoin(
      Tables.documents(spark, d), "doc_id", "text", threshold = 0.6)

  /** Sampled estimate of the inverted-index path's candidate-pair count
    * vs corpus size → `"inverted"` or `"prefix"`. Unbiased: E[df_s·
    * (df_s−1)] = p²·df·(df−1) under Bernoulli document sampling. Both
    * statistics (candidate estimate, sampled doc count) come back from
    * ONE action — a cross join of the two single-row aggregates — not a
    * `.head()` plus a `.count()` over the same sample.
    *
    * The decision is a property of the input relation + parameters, so
    * it is memoized: repeated invocations (retries, the same table
    * deduped in a loop) do not re-run the sampling job. Keyed by the
    * Dataset's semantic hash — a collision can only flip a performance
    * hint between two EXACT plans, never correctness.
    */
  private[operators] def chooseStrategy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sampleFraction: Double = 0.1,
      blowupFactor: Double = 500.0,
      seed: Long = 42L): String =
    graft.core.SharedRelations.memo(docs.sparkSession, "dedup_strategy",
      // idCol/textCol are part of the statistic, not just the plan: the
      // same relation deduped on a different text column has different
      // shingle frequencies
      (docs.semanticHash(), idCol, textCol, sampleFraction, blowupFactor, seed)) {
      val sampled = docs.sample(sampleFraction, seed)
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select(col(idCol).as("__id"), shingles(split(col(textCol), " ")).as("sh"))
        .where(size(col("sh")) > 0)
      val candStats = sampled.select(explode(col("sh")).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("df"))
        .agg(
          sum(col("df") * (col("df") - 1) / 2).cast(DoubleType).as("cand"),
          sum(col("df")).cast(DoubleType).as("postings"))
      val docStats = sampled.agg(count(lit(1)).as("n_docs"))
      val row = candStats.crossJoin(docStats).head()
      val nDocsSampled = row.getLong(2).toDouble
      if (row.isNullAt(0) || nDocsSampled == 0) "inverted" // empty corpus
      else {
        val estCandidates = row.getDouble(0) / (sampleFraction * sampleFraction)
        val estDocs = nDocsSampled / sampleFraction
        if (estCandidates > blowupFactor * estDocs) "prefix" else "inverted"
      }
    }

  /** See [[q34JaccardPairs]]; reusable form over any (id, text) frame.
    * `strategy` ∈ {auto, inverted, prefix}.
    */
  def jaccardSimilarityJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      strategy: String = "auto"): DataFrame = {
    val chosen = strategy match {
      case "auto"                      => chooseStrategy(docs, idCol, textCol)
      case s @ ("inverted" | "prefix") => s
      case other =>
        throw new IllegalArgumentException(s"unknown strategy '$other'")
    }
    // spread the shingle generation across cores: a small fixture table
    // arrives as one file = one partition, and everything up to the
    // first exchange would otherwise run single-threaded
    val base = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("__id"), shingles(split(col(textCol), " ")).as("sh"))
      .where(size(col("sh")) > 0)
    val counts = base.select(col("__id"), size(col("sh")).as("n_sh"))
    val inverted = base.select(col("__id"), explode(col("sh")).as("s"))

    val inter =
      if (chosen == "inverted") {
        // full inverted index: pair counts directly from the postings join
        inverted.select(col("__id").as("doc_a"), col("s"))
          .join(inverted.select(col("__id").as("doc_b"), col("s")), Seq("s"))
          .where(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
      } else {
        // global document frequency per shingle → rarest-first prefix order
        val docFreq = inverted.groupBy(col("s")).agg(count(lit(1)).as("df"))
        val ranked = inverted.join(docFreq, Seq("s"))
          .withColumn("__rank",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("__id")).orderBy(col("df"), col("s"))))
        val withPrefix = ranked.join(counts, Seq("__id"))
          .where(col("__rank") <=
            col("n_sh") - ceil(lit(threshold / 2.0) * col("n_sh")).cast("int") + 1)
          .select(col("__id"), col("s"))

        val candidates = withPrefix.select(col("__id").as("doc_a"), col("s"))
          .join(withPrefix.select(col("__id").as("doc_b"), col("s")), Seq("s"))
          .where(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").distinct()

        // exact intersection of candidate pairs against full postings
        candidates
          .join(inverted.select(col("__id").as("doc_a"), col("s")), Seq("doc_a"))
          .join(inverted.select(col("__id").as("doc_b"), col("s").as("s_b")), Seq("doc_b"))
          .where(col("s") === col("s_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
      }

    inter
      .join(counts.select(col("__id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(counts.select(col("__id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  val q34Sql: String =
    """SELECT doc_a, doc_b, jaccard FROM (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      | FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |       WHERE len(t) >= 3) a
      | JOIN (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |       WHERE len(t) >= 3) b
      | ON a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.6""".stripMargin

  /** Declared q129: keep-latest-per-key compaction — collapse an
    * append-only change stream to its current snapshot (the batch twin
    * of the CDC MERGE: every key keeps only its most recent row).
    * Shaped as ONE aggregate (`max_by` over the ordering tuple), not a
    * `row_number`-over-window filter: the aggregate partially combines
    * map-side, so each task forwards one candidate row per key and the
    * exchange moves keys, not history — while the window form must
    * shuffle the ENTIRE event history and sort it per partition. (The
    * struct-ordered buffer makes this a SortAggregate — each map task
    * sorts only its own partition, spillable, no different from the
    * sort every shuffle map task already does; the win is the shuffle
    * volume.) At 100 TB of changes with a bounded key space, that's a
    * metadata-scale exchange instead of a full-data one.
    */
  def q129LatestSnapshot(spark: SparkSession, d: String): DataFrame =
    latestSnapshot(
      Tables.events(spark, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"), col("value")),
      keys = Seq("user_id", "event_type"),
      ordering = Seq("us", "event_id"),
      payload = Seq("value"))

  /** The row with the max `ordering` tuple per `keys` group, keeping
    * `ordering` and `payload` columns. `ordering` must be unique per
    * group (ties would be nondeterministic); here (us, event_id) is.
    */
  def latestSnapshot(
      e: DataFrame,
      keys: Seq[String],
      ordering: Seq[String],
      payload: Seq[String]): DataFrame = {
    val carried = ordering ++ payload
    e.groupBy(keys.map(col): _*)
      .agg(max_by(struct(carried.map(col): _*),
        struct(ordering.map(col): _*)).as("__latest"))
      .select(keys.map(col) ++ carried.map(c => col(s"__latest.$c")): _*)
  }

  val q129Sql: String =
    """SELECT user_id, event_type, us, event_id, value FROM (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id, value,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1""".stripMargin

  /** Dedup-threshold sensitivity curve — how many near-dup pairs (and
    * what fraction of documents they touch) each candidate Jaccard
    * threshold would flag: the evidence for CHOOSING the threshold
    * before q34/q69 commit to one. One similarity join at the LOWEST
    * candidate threshold, then every higher threshold is a cheap
    * bucketed re-count of the same pair relation — the sweep never
    * re-joins.
    *
    * @return per threshold: threshold, n_pairs, n_docs_touched
    */
  def thresholdCurve(docs: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty)
    val lo = thresholds.min
    val pairs = jaccardSimilarityJoin(docs, idCol, textCol, threshold = lo)
      .localCheckpoint()
    val rows = thresholds.sorted.map { t =>
      val sub = pairs.where(col("jaccard") >= t)
      val touched = sub.select(col("doc_a").as("d"))
        .unionAll(sub.select(col("doc_b").as("d")))
        .agg(countDistinct(col("d")).as("n_docs_touched"))
      sub.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(touched)
        .select(lit(t).as("threshold"), col("n_pairs"),
          col("n_docs_touched"))
    }
    rows.reduce(_ unionByName _)
  }

  /** Declared q187: the corpus's dedup sensitivity at 0.5/0.6/0.7/0.8. */
  def q187ThresholdCurve(spark: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    thresholdCurve(graft.core.Tables.documents(spark, d),
      "doc_id", "text", Seq(0.5, 0.6, 0.7, 0.8))

  val q187Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3),
      |pairs AS MATERIALIZED (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
      |      >= 0.5),
      |t AS (SELECT unnest([0.5, 0.6, 0.7, 0.8]) AS threshold)
      |SELECT CAST(t.threshold AS DOUBLE) AS threshold,
      |  CAST((SELECT count(*) FROM pairs p WHERE p.j >= t.threshold)
      |    AS BIGINT) AS n_pairs,
      |  CAST((SELECT count(DISTINCT d) FROM (
      |      SELECT da AS d FROM pairs WHERE j >= t.threshold
      |      UNION SELECT db FROM pairs WHERE j >= t.threshold))
      |    AS BIGINT) AS n_docs_touched
      |FROM t""".stripMargin

  /** PASSAGE-level dedup (the CCNet/RefinedWeb paragraph-dedup shape,
    * adapted to the fixture's unpunctuated token streams): cut each
    * document into non-overlapping `blockTokens`-token blocks, count
    * each FULL block's document frequency corpus-wide, and rewrite
    * every document with its boilerplate blocks (df ≥ `minDf`) removed
    * — the sub-document complement of doc-level dedup (q30/q35): a
    * shared header or injected quote is excised from every carrier
    * while the documents themselves survive.
    *
    * Pinned rules (identical in the oracle):
    *  - blocks are ⌈n/blockTokens⌉ consecutive slices; the short tail
    *    block is NEVER removable (a trailing "the" must not count as
    *    boilerplate) and never counts toward df;
    *  - df is DISTINCT carrier documents, so a block repeated inside
    *    one document is not boilerplate by itself — but once a block
    *    is boilerplate, every occurrence in every document is removed;
    *  - reconstruction joins kept blocks in block order with single
    *    spaces, so an untouched document round-trips bit-for-bit.
    *
    * Scale shape: block explode is map-only; df is one hash aggregate
    * on block text (map-side combined); the boilerplate set is tiny by
    * construction (blocks repeated across documents) and BROADCASTS
    * into the flagging join, so the corpus-side blocks never shuffle
    * for the join; the rewrite is one doc-keyed aggregate. At 100 TB:
    * two linear passes + one broadcast.
    */
  def passageDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 16,
      minDf: Int = 2): DataFrame = {
    require(blockTokens > 0 && minDf >= 2,
      s"need blockTokens > 0 and minDf >= 2, got $blockTokens / $minDf")
    val toks = split(col(textCol), " ")
    val n = size(toks)
    val nBlocks = ceil(n.cast(DoubleType) / blockTokens).cast("int")
    val blocks = docs.select(
        col(idCol),
        posexplode(transform(
          sequence(lit(0), greatest(nBlocks, lit(1)) - 1),
          i => concat_ws(" ", slice(toks, i * blockTokens + 1, lit(blockTokens))))))
      .select(col(idCol), col("pos").as("__bi"), col("col").as("__bt"),
        size(split(col("col"), " ")).as("__bl"))
    val boiler = blocks
      .where(col("__bl") === blockTokens)
      .groupBy(col("__bt"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .where(col("__df") >= minDf)
      .select(col("__bt"), lit(true).as("__boil"))
    val flagged = blocks
      .join(broadcast(boiler), Seq("__bt"), "left")
      .withColumn("__rm",
        coalesce(col("__boil"), lit(false)) && col("__bl") === blockTokens)
    flagged.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("__rm"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(!col("__rm"),
            struct(col("__bi").as("i"), col("__bt").as("t"))))),
          s => s.getField("t")), " ").as("cleaned_text"))
      .withColumn("frac_removed",
        col("n_removed").cast(DoubleType) / col("n_blocks"))
  }

  /** Declared q196: 16-token blocks, boilerplate at df ≥ 2, over the
    * documents fixture (which plants verbatim-copied passages — the
    * q138 fingerprint findings, here excised instead of reported).
    */
  def q196PassageDedup(spark: SparkSession, d: String): DataFrame =
    passageDedup(Tables.documents(spark, d), "doc_id", "text",
      blockTokens = 16, minDf = 2)

  val q196Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |b AS (
      |  SELECT doc_id, x.i AS bi,
      |    array_to_string(toks[x.i * 16 + 1 : x.i * 16 + 16], ' ') AS bt,
      |    len(toks[x.i * 16 + 1 : x.i * 16 + 16]) AS bl
      |  FROM t, LATERAL (SELECT unnest(generate_series(0,
      |    greatest(CAST(ceil(len(toks) / 16.0) AS INT), 1) - 1)) AS i) x),
      |boiler AS (
      |  SELECT bt FROM b WHERE bl = 16
      |  GROUP BY bt HAVING count(DISTINCT doc_id) >= 2),
      |f AS (
      |  SELECT b.doc_id, b.bi, b.bt,
      |    (b.bl = 16 AND b.bt IN (SELECT bt FROM boiler)) AS rm
      |  FROM b)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_blocks,
      |  CAST(count(*) FILTER (rm) AS BIGINT) AS n_removed,
      |  coalesce(array_to_string(
      |    list(bt ORDER BY bi) FILTER (NOT rm), ' '), '') AS cleaned_text,
      |  CAST(count(*) FILTER (rm) AS DOUBLE) / count(*) AS frac_removed
      |FROM f GROUP BY doc_id""".stripMargin

  /** Sliding n-token spans (ALL positions, duplicates kept — unlike
    * [[shingles]]' distinct set): built by folding n−1 `zip_with`s
    * over shifted slices so every array argument evaluates once per
    * row (the [[shingles]] O(len²) lambda trap, avoided the same way).
    */
  def spanGrams(toks: Column, n: Int): Column = {
    require(n >= 2, s"spanGrams: n must be >= 2, got $n")
    val m = greatest(size(toks) - (n - 1), lit(0))
    (2 to n).foldLeft(slice(toks, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), m),
        (xy, z) => concat(xy, lit(" "), z))
    }
  }

  /** Cross-document duplicated-span inventory — the memorization-risk
    * report run before a pretraining cut (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 measures
    * exactly these repeated spans): every n-token span occurring in
    * ≥ minDocs distinct documents, with its document reach, total
    * occurrence count, and earliest document. Complements the PAIRWISE
    * near-dup detectors (q34–q36): those say which docs overlap, this
    * says which CONTENT is duplicated — boilerplate, licenses, chain
    * letters — ranked for a removal pass.
    *
    * Scale shape: one explode (token-count rows) into TWO map-side-
    * combinable hash aggregates — (span, doc) partial counts, then
    * span-keyed rollup; the multi-doc filter prunes the long unique
    * tail in the final aggregate. No joins, no windows; hot spans are
    * exactly what survives, and they arrive pre-combined per
    * partition.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("__id"),
        explode(spanGrams(split(col(textCol), " "), n)).as("span"))
      .groupBy(col("span"), col("__id"))
      .agg(count(lit(1)).as("__c"))
    perDoc.groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("n_occ"),
        min(col("__id")).as("min_doc"))
      .where(col("n_docs") >= minDocs)
  }

  /** Declared q210: 8-token spans shared by ≥ 2 fixture documents. */
  def q210DupSpans(spark: SparkSession, d: String): DataFrame =
    duplicatedSpans(Tables.documents(spark, d), "doc_id", "text",
      n = 8, minDocs = 2)

  /** Per-document span NOVELTY — the document-level readout of the
    * q210 inventory: what fraction of a document's n-token span
    * positions is content seen in NO other document. The Gopher/
    * RefinedWeb-style duplication filters threshold exactly this
    * number (docs that are mostly recycled boilerplate score low and
    * get dropped or down-weighted).
    *
    * Scale shape: the same (span, doc) partial-count aggregate as
    * [[duplicatedSpans]], then a span-partitioned WINDOW count for the
    * document reach and one doc-keyed sum — three exchanges total. The
    * r9 shape materialized the (span, doc) relation in a
    * localCheckpoint and joined a separate reach rollup back on the
    * span key (four exchanges + a checkpoint job + the join); the
    * window computes the same per-span row count on the already
    * span-clustered stream. Window partition sizes are docs-per-span:
    * bounded by the corpus's duplication degree, pre-combined by the
    * (span, doc) aggregate, never corpus-sized.
    *
    * @return per doc with ≥ 1 span: n_spans, dup_spans (positions
    *         whose text recurs elsewhere), novelty ∈ [0,1] (6 dp)
    */
  def spanNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // span text is purely an internal key here (the report is per
    // doc) — shrink to a 64-bit fingerprint before the shuffles,
    // the q220 measurement (2.6 s -> 1.8 s at sf0.1)
    val perDoc = docs
      .select(col(idCol).as("__id"),
        explode(transform(spanGrams(split(col(textCol), " "), n),
          s => xxhash64(s))).as("span"))
      .groupBy(col("span"), col("__id"))
      .agg(count(lit(1)).as("__c"))
    // rows per span == distinct docs containing it, so the reach is a
    // plain unordered COUNT window over the span partition
    val w = Window.partitionBy(col("span"))
    perDoc
      .withColumn("__docs", count(lit(1)).over(w))
      .groupBy(col("__id"))
      .agg(sum(col("__c")).as("n_spans"),
        sum(when(col("__docs") >= 2, col("__c")).otherwise(0L))
          .as("dup_spans"))
      .select(col("__id").as(idCol), col("n_spans"), col("dup_spans"),
        round(lit(1.0) - col("dup_spans").cast("double") / col("n_spans"), 6)
          .as("novelty"))
  }

  /** Declared q219: 8-token span novelty per fixture document. */
  def q219SpanNovelty(spark: SparkSession, d: String): DataFrame =
    spanNovelty(Tables.documents(spark, d), "doc_id", "text", n = 8)

  val q219Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 7),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |           toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
      |           toks[i+6] || ' ' || toks[i+7])) AS span
      |  FROM t),
      |pd AS (SELECT span, doc_id, count(*) AS c FROM g GROUP BY 1, 2),
      |reach AS (SELECT span, count(*) AS docs FROM pd GROUP BY 1)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_spans,
      |  CAST(sum(CASE WHEN docs >= 2 THEN c ELSE 0 END) AS BIGINT)
      |    AS dup_spans,
      |  round(1.0 - CAST(sum(CASE WHEN docs >= 2 THEN c ELSE 0 END)
      |    AS DOUBLE) / sum(c), 6) AS novelty
      |FROM pd JOIN reach USING (span) GROUP BY doc_id""".stripMargin

  /** Longest-shared-passage DEPTH estimate between document pairs —
    * pinned span levels (8/16/32 tokens) instead of a suffix-array
    * LCS: a pair's depth is the largest level at which they share a
    * verbatim span. The level ladder is the scalable stand-in for
    * "how long is the longest common passage" (exact LCS is
    * quadratic per pair; levels are three linear passes), and the
    * answer drives the same decision — dedup at depth 32, attribute
    * at 16, ignore at 8.
    *
    * Scale shape per level: distinct (doc, span) → span-keyed
    * document-frequency cap (df ≤ maxDf, the q138 lesson: boilerplate
    * spans are hot keys whose pair blowup is quadratic — they carry
    * no pair-specific signal and are DROPPED, documented behavior) →
    * span-keyed self-join → pair aggregate. Union of three levels,
    * one final pair-keyed rollup.
    *
    * @return per sharing pair (a < b): n_shared_8 (distinct capped
    *         8-spans shared; 0 when only a longer uncapped span
    *         survives the cap), depth ∈ {8, 16, 32}
    */
  def passageOverlapDepth(docs: DataFrame, idCol: String,
      textCol: String, levels: Seq[Int] = Seq(8, 16, 32),
      maxDf: Int = 50): DataFrame = {
    require(levels.nonEmpty && levels == levels.sorted)
    // ONE fused relation for the whole ladder (r8 ran one 4-shuffle
    // chain PER level — three explodes, three df-caps, three
    // self-joins, a union, a rollup; r9 fuses them: every level's
    // distinct span fingerprints are emitted level-tagged from a
    // single explode, and the df-cap / self-join / pair-rollup run
    // once over the (lvl, span)-keyed relation — measured 4.3 s ->
    // well under 2 s suite-context at sf0.1). Spans shrink to 64-bit
    // xxhash64 fingerprints BEFORE any shuffle: the raw 8-32-token
    // span STRINGS (50-250 B each) would otherwise ride the df-count,
    // semi-join, and self-join exchanges (measured 6.8 s -> 2.9 s in
    // r8 for the then-three-chain ladder). Collisions across the span
    // vocabulary are ~n²/2⁶⁴ — ≪ 1e-6 at any corpus this join can
    // hold.
    require(levels.size <= 8, "level tag uses 3 bits")
    val l0 = levels.head
    require(levels.forall(_ % l0 == 0),
      "levels must be multiples of the base level (hash composition)")
    // Base-level span STRINGS are built and hashed exactly once,
    // positionally; every higher level's fingerprint is a hash OF the
    // constituent base hashes (an L-span at position i equals another
    // iff all L/l0 of its base blocks equal — same equality relation
    // as hashing the L-token string, without ever materializing it).
    // The r8 ladder built 8-, 16- AND 32-token span strings (56× the
    // corpus token mass in string concat+hash); this builds 8× and
    // does the rest in long arithmetic.
    val toks = docs
      .select(col(idCol).as("__id"), split(col(textCol), " ").as("__t"))
      .select(col("__id"),
        transform(spanGrams(col("__t"), l0), s => xxhash64(s)).as("__hb"))
    def lvlHashes(L: Int): Column =
      if (L == l0) col("__hb")
      else {
        val k = L / l0
        val nSpans = size(col("__hb")) - lit(L - l0)
        when(nSpans > lit(0),
          transform(sequence(lit(1), nSpans), i =>
            xxhash64((0 until k).map(b =>
              element_at(col("__hb"), i + lit(b * l0))): _*)))
          .otherwise(array().cast("array<bigint>"))
      }
    // (level, span) packs into ONE long — fingerprint << 3 | level
    // index — so every downstream shuffle/join keys on a single
    // BIGINT instead of an (int, long) pair (a struct-keyed cut of
    // this fusion measured SLOWER than the r8 three-chain ladder
    // purely on per-row struct overhead). 61 effective fingerprint
    // bits keep collisions ≪ 1e-6.
    val tagged = concat(levels.zipWithIndex.map { case (n, i) =>
      transform(array_distinct(lvlHashes(n)),
        h => shiftleft(h, 3) + lit(i.toLong))
    }: _*)
    val perDoc = toks
      .select(col("__id"), explode(tagged).as("key"))
    // ONE shuffle for the whole df-cap + pair generation: the capped
    // collect ([[graft.functions.CollectCapped]]) accumulates each
    // span's doc list up to maxDf and collapses boilerplate keys to
    // null the moment they exceed it — map-side partials bounded by
    // the cap, hot keys never materialize their member lists — so the
    // r8 plan's df-count aggregate, keep-set semi-join, and keyed
    // self-join (three extra passes over the 15M-row key relation)
    // all fold into this single aggregate, and sharing pairs come off
    // the per-key sorted doc list as ordered (a < b) combinations.
    val lvlIdx = col("key").bitwiseAND(lit(7L))
    val decodeDepth = levels.zipWithIndex.tail
      .foldLeft(lit(levels.head.toLong)) { case (acc, (n, i)) =>
        when(col("__mi") === i, n.toLong).otherwise(acc)
      }
    perDoc
      .groupBy(col("key"))
      .agg(graft.functions.CollectCapped.of(maxDf)(col("__id")).as("__ids"))
      .where(col("__ids").isNotNull && size(col("__ids")) >= 2)
      .select(col("key"), explode(flatten(transform(col("__ids"), (x, i) =>
        transform(slice(col("__ids"), i + 2, size(col("__ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("__p"))
      .select(col("key"), col("__p.a").as("a"), col("__p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(when(lvlIdx === 0, 1L).otherwise(0L)).as("n_shared_base"),
        max(lvlIdx).as("__mi"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("n_shared_base").as("n_shared_8"),
        decodeDepth.as("depth"))
  }

  /** Declared q220: shared-passage depth over the fixture corpus. */
  def q220PassageDepth(spark: SparkSession, d: String): DataFrame =
    passageOverlapDepth(Tables.documents(spark, d), "doc_id", "text")

  val q220Sql: String = {
    def lvl(n: Int): String =
      s"""  SELECT a.id AS a, b.id AS b, count(*) AS n, $n AS lvl
         |  FROM sp$n a JOIN sp$n b ON a.span = b.span AND a.id < b.id
         |  WHERE a.span IN (SELECT span FROM sp$n GROUP BY span
         |                   HAVING count(*) <= 50)
         |  GROUP BY 1, 2""".stripMargin
    def spans(n: Int): String = {
      val cat = (0 until n).map(k => s"toks[i+$k]").mkString(" || ' ' || ")
      s"""sp$n AS (
         |  SELECT DISTINCT doc_id AS id,
         |    unnest(list_distinct(list_transform(
         |      generate_series(1, len(toks) - ${n - 1}), i -> $cat))) AS span
         |  FROM t)""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents),
       |${spans(8)},
       |${spans(16)},
       |${spans(32)},
       |u AS (
       |${lvl(8)}
       |  UNION ALL
       |${lvl(16)}
       |  UNION ALL
       |${lvl(32)})
       |SELECT a AS doc_a, b AS doc_b,
       |  CAST(sum(CASE WHEN lvl = 8 THEN n ELSE 0 END) AS BIGINT)
       |    AS n_shared_8,
       |  CAST(max(lvl) AS BIGINT) AS depth
       |FROM u GROUP BY 1, 2""".stripMargin
  }

  val q210Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 7),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |           toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
      |           toks[i+6] || ' ' || toks[i+7])) AS span
      |  FROM t),
      |pd AS (SELECT span, doc_id, count(*) AS c FROM g GROUP BY 1, 2)
      |SELECT span, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(c) AS BIGINT) AS n_occ, min(doc_id) AS min_doc
      |FROM pd GROUP BY span HAVING count(*) >= 2""".stripMargin
}

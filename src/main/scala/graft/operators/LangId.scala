package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Character-n-gram language identification (E15's lang-ID heuristic):
  * the classic profile method — a language's character-trigram
  * frequency profile is learned from labeled text, and a document is
  * assigned the label whose profile it overlaps most.
  *
  * Shape at scale: profile training is one explode + two hash
  * aggregates over the labeled corpus; the resulting profiles (top-N
  * trigrams per language — a few KB each) broadcast into the scoring
  * join, so classifying a 100 TB corpus is a broadcast join + window,
  * never a shuffle of the corpus by language.
  */
object LangId {

  /** One row per lower-cased character trigram occurrence (text padded
    * with two boundary spaces so short tokens still contribute).
    */
  private def trigramRows(df: DataFrame, textCol: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__padded", concat(lit("  "), lower(col(textCol)), lit("  ")))
      .select(col("*"),
        explode(sequence(lit(1), length(col("__padded")) - 2)).as("__pos"))
      .withColumn("__tri", expr("substring(__padded, __pos, 3)"))
      .drop("__padded", "__pos")

  /** Train per-language trigram profiles: the `topN` most frequent
    * trigrams per label with raw in-language counts.
    *
    * The profile carries the integer count `n` and the language's total
    * trigram count `total` rather than a precomputed float weight:
    * scoring then sums exact integers and divides ONCE, so the score is
    * bit-identical regardless of aggregation order (and across engines
    * — IEEE division of the same integers is deterministic), which is
    * what lets the declared q45 be hash-checked against a SQL oracle.
    * `weight` (= n/total) is still provided for inspection.
    *
    * @return (lang, trigram, n, total, weight) — small; broadcast side
    */
  def trainProfiles(
      labeled: DataFrame,
      textCol: String,
      langCol: String,
      topN: Int = 300): DataFrame = {
    val tri = trigramRows(labeled.select(col(langCol).as("__lang"), col(textCol)), textCol)
      .groupBy(col("__lang"), col("__tri"))
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col("__lang")).orderBy(col("__n").desc, col("__tri"))
    val total = Window.partitionBy(col("__lang"))
    tri
      .withColumn("__rank", row_number().over(w))
      .withColumn("__total", sum(col("__n")).over(total))
      .where(col("__rank") <= topN)
      .select(col("__lang").as("lang"), col("__tri").as("trigram"),
        col("__n").as("n"), col("__total").as("total"),
        (col("__n").cast(DoubleType) / col("__total")).as("weight"))
  }

  /** Classify each document: score = (Σ occurrences·n) / total over the
    * language's profile trigrams — one exact integer sum, one division;
    * predicted language = argmax score (ties → lexicographic lang).
    */
  def classify(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      profiles: DataFrame): DataFrame = {
    val tri = trigramRows(docs.select(col(idCol).as("__id"), col(textCol)), textCol)
      .groupBy(col("__id"), col("__tri"))
      .agg(count(lit(1)).as("__occ"))
    val scored = tri
      .join(broadcast(profiles), tri("__tri") === profiles("trigram"))
      .groupBy(col("__id"), col("lang"))
      .agg(sum(col("__occ") * col("n")).as("__num"), max(col("total")).as("__total"))
      .select(col("__id"), col("lang"),
        (col("__num").cast(DoubleType) / col("__total")).as("__score"))
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__score").desc, col("lang"))
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("__id").as(idCol), col("lang").as("predicted_lang"),
        col("__score").as("lang_score"))
  }

  /** Train-and-classify over the same labeled corpus in ONE corpus
    * pass: the per-(doc, trigram) occurrence relation is built once and
    * both consumers — the per-language profile aggregate and the
    * scoring join — hang off a BYTE-IDENTICAL aggregate subtree, so
    * Spark's exchange reuse executes the explode + its shuffle once
    * (plan shows ReusedExchange; the explode is the dominant cost — it
    * multiplies the corpus by ~text length). The doc label deliberately
    * does NOT ride through the explode: keeping it there makes the two
    * consumers prune different columns, which breaks plan
    * canonicalization and silently doubles the corpus pass — instead
    * the profile branch joins the label back from a thin (doc, lang)
    * side relation. For documents with non-null ids this is numerically
    * identical to `classify(docs, ..., trainProfiles(docs, ...))` —
    * each doc has exactly one label, so per-(lang, trigram) counts are
    * the same integers either way. A null-id document is excluded from
    * BOTH training and scoring here (it cannot be scored anyway),
    * whereas `trainProfiles` alone would still count its trigrams —
    * the one intentional divergence.
    */
  def trainAndClassify(
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      topN: Int = 300): DataFrame = {
    // one explode + one shuffle: occurrences per (doc, trigram). The
    // explicit isNotNull filters serve PLAN EQUALITY: the profile
    // branch's inner join infers isnotnull(__id) and the scoring join
    // infers isnotnull(__tri); stating both here keeps the two
    // consumers' subtrees canonically identical so the exchange is
    // computed once and reused. (They also exclude null-id docs from
    // training — see the scaladoc note.)
    val occ = trigramRows(
      labeled.select(col(idCol).as("__id"), col(textCol))
        .where(col(idCol).isNotNull && col(textCol).isNotNull), textCol)
      .where(col("__tri").isNotNull)
      .groupBy(col("__id"), col("__tri"))
      .agg(count(lit(1)).as("__occ"))

    // profiles: label joined back (thin two-column scan, no explode),
    // then partial-aggregate per (lang, trigram)
    val docLang = labeled.select(col(idCol).as("__id"), col(langCol).as("__lang"))
    val counts = occ.join(docLang, Seq("__id"))
      .groupBy(col("__lang"), col("__tri"))
      .agg(sum(col("__occ")).as("__n"))
    val w = Window.partitionBy(col("__lang")).orderBy(col("__n").desc, col("__tri"))
    val total = Window.partitionBy(col("__lang"))
    val profiles = counts
      .withColumn("__rank", row_number().over(w))
      .withColumn("__total", sum(col("__n")).over(total))
      .where(col("__rank") <= topN)
      .select(col("__lang").as("lang"), col("__tri").as("trigram"),
        col("__n").as("n"), col("__total").as("total"))

    // scoring: the SAME occ subtree (reused exchange), profiles broadcast
    val scored = occ
      .join(broadcast(profiles), occ("__tri") === profiles("trigram"))
      .groupBy(col("__id"), col("lang"))
      .agg(sum(col("__occ") * col("n")).as("__num"), max(col("total")).as("__total"))
      .select(col("__id"), col("lang"),
        (col("__num").cast(DoubleType) / col("__total")).as("__score"))
    val rankW = Window.partitionBy(col("__id"))
      .orderBy(col("__score").desc, col("lang"))
    scored
      .withColumn("__rn", row_number().over(rankW))
      .where(col("__rn") === 1)
      .select(col("__id").as(idCol), col("lang").as("predicted_lang"),
        col("__score").as("lang_score"))
  }

  /** The shared corpus prediction: q45 IS this relation and q173
    * consumes it as its predicted leg — without the share, each paid
    * the full train-and-classify pipeline (the corpus explode is
    * ~text-length × corpus rows, the suite's single heaviest repeated
    * subtree at ~2.5 s per payer at sf0.1). |docs| × 3 thin columns.
    */
  def sharedCorpusPrediction(spark: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.core.SharedRelations.relation(spark, "langid", d) {
      trainAndClassify(graft.core.Tables.documents(spark, d),
        "doc_id", "text", "lang")
    }

  /** Oracle for the declared q45 (train on the labeled corpus, classify
    * the same corpus): full SQL replication of [[trainProfiles]] +
    * [[classify]] — trigram explode, top-300 profile per language
    * (count desc, trigram asc), exact integer scoring, one division,
    * argmax with lexicographic tie-break.
    */
  val q45Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, lang, '  ' || lower(text) || '  ' AS p FROM documents),
      |tri AS (
      |  SELECT doc_id, lang,
      |   unnest(list_transform(range(1, length(p) - 1),
      |     i -> substring(p, CAST(i AS INT), 3))) AS tg
      |  FROM docs),
      |counts AS (SELECT lang, tg, count(*) AS n FROM tri GROUP BY 1, 2),
      |totals AS (SELECT lang, sum(n) AS total FROM counts GROUP BY 1),
      |prof AS (
      |  SELECT r.lang, tg, n, total FROM (
      |    SELECT lang, tg, n,
      |     row_number() OVER (PARTITION BY lang ORDER BY n DESC, tg) AS rk
      |    FROM counts) r JOIN totals USING (lang) WHERE rk <= 300),
      |occ AS (SELECT doc_id, tg, count(*) AS occ FROM tri GROUP BY 1, 2),
      |sc AS (
      |  SELECT doc_id, prof.lang, CAST(sum(occ * n) AS DOUBLE) / max(total) AS score
      |  FROM occ JOIN prof USING (tg) GROUP BY 1, 2),
      |ranked AS (
      |  SELECT doc_id, lang, score,
      |   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
      |  FROM sc)
      |SELECT doc_id, lang AS predicted_lang, score AS lang_score
      |FROM ranked WHERE rn = 1""".stripMargin

  /** Language-label audit: the confusion matrix of DECLARED language
    * metadata against the n-gram classifier's prediction — the "is the
    * metadata lying" check a corpus intake runs before trusting
    * `lang` tags for mixture decisions. Diagonal = agreement;
    * off-diagonal mass locates mislabeled slices.
    *
    * Scale shape: [[trainAndClassify]]'s single-explode pipeline plus
    * one label join and one domain-bounded (declared × predicted)
    * aggregate; the per-declared fraction rides a window over that
    * matrix, not over documents.
    */
  def labelConfusion(labeled: DataFrame, idCol: String, textCol: String,
      langCol: String,
      precomputed: Option[DataFrame] = None): DataFrame = {
    val pred = precomputed.getOrElse(
      trainAndClassify(labeled, idCol, textCol, langCol))
    val declared = labeled.select(col(idCol).as("doc_id"),
      col(langCol).as("declared_lang"))
    val cells = declared
      .join(pred.select(col("doc_id"), col("predicted_lang")), Seq("doc_id"))
      .groupBy(col("declared_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("declared_lang"))
    cells
      .withColumn("frac",
        col("n").cast("double") / sum(col("n")).over(w))
      .withColumn("agree", col("declared_lang") === col("predicted_lang"))
  }

  /** Declared q173: confusion of the corpus's lang tags vs q45's
    * classifier.
    */
  def q173LangConfusion(spark: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    labelConfusion(graft.core.Tables.documents(spark, d),
      "doc_id", "text", "lang",
      precomputed = Some(sharedCorpusPrediction(spark, d)))

  val q173Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, lang, '  ' || lower(text) || '  ' AS p FROM documents),
      |tri AS (
      |  SELECT doc_id, lang,
      |   unnest(list_transform(range(1, length(p) - 1),
      |     i -> substring(p, CAST(i AS INT), 3))) AS tg
      |  FROM docs),
      |counts AS (SELECT lang, tg, count(*) AS n FROM tri GROUP BY 1, 2),
      |totals AS (SELECT lang, sum(n) AS total FROM counts GROUP BY 1),
      |prof AS (
      |  SELECT r.lang, tg, n, total FROM (
      |    SELECT lang, tg, n,
      |     row_number() OVER (PARTITION BY lang ORDER BY n DESC, tg) AS rk
      |    FROM counts) r JOIN totals USING (lang) WHERE rk <= 300),
      |occ AS (SELECT doc_id, tg, count(*) AS occ FROM tri GROUP BY 1, 2),
      |sc AS (
      |  SELECT doc_id, prof.lang, CAST(sum(occ * n) AS DOUBLE) / max(total) AS score
      |  FROM occ JOIN prof USING (tg) GROUP BY 1, 2),
      |pred AS (
      |  SELECT doc_id, lang AS predicted_lang FROM (
      |    SELECT doc_id, lang, score,
      |     row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
      |    FROM sc) WHERE rn = 1),
      |cells AS (
      |  SELECT d.lang AS declared_lang, p.predicted_lang, count(*) AS n
      |  FROM documents d JOIN pred p USING (doc_id)
      |  GROUP BY 1, 2)
      |SELECT declared_lang, predicted_lang, CAST(n AS BIGINT) AS n,
      |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY declared_lang)
      |    AS frac,
      |  declared_lang = predicted_lang AS agree
      |FROM cells""".stripMargin
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core.Tables

/** Lexical retrieval over the corpus: BM25 — the no-model search
  * baseline every data pipeline needs (eval-set mining, targeted corpus
  * audits, hard-query selection) before any embedding index exists.
  * Complements the vector side ([[Similarity]]/[[IvfIndex]]) and the
  * hashed-TF cosine search ([[TextAnalysis.hashingTfVectors]], q77)
  * with the classic probabilistic-relevance ranking.
  *
  * Scale shape: the corpus is tokenized ONCE into a postings relation
  * (doc, term, tf) — one explode + one hash aggregate; document-length
  * and corpus stats (N, avgdl) reduce to one broadcast row; the query
  * side is search-request-sized by definition and broadcasts into the
  * postings join, so the corpus never reshuffles per query. Scoring is
  * additive over matched terms (map-side partial aggregation applies)
  * and top-k is a partitioned window (WindowGroupLimit pushes the limit
  * into the shuffle). A 100 TB corpus costs one postings build; each
  * query batch is a broadcast join over it.
  */
object Retrieval {

  /** BM25 top-k: for each query row, the `k` highest-scoring documents.
    *
    * Scores are rounded to 1e-6 BEFORE ranking (and emitted rounded) so
    * the rank order is reproducible across engines: float summation
    * order may differ at the ulp level, and an unrounded
    * order-by-double would let that noise flip ranks between
    * equal-scored near-duplicate documents.
    *
    * @return (query_id, rank, doc_id, score)
    */
  def bm25TopK(
      docs: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    rankTopK(bm25Scored(docs, queries, idCol, textCol, k1, b), k)

  /** The k-independent scoring relation (query_id, doc_id, score) —
    * everything in BM25 up to but excluding the per-query rank window.
    * Factored out so the suite's four consumers (q94/q100/q195/q207,
    * all over the same query/corpus split) can share ONE materialized
    * build via [[sharedBm25Scored]] instead of each re-tokenizing the
    * corpus — the multi-query amortization a real search engine gets
    * from its inverted index.
    */
  def bm25Scored(
      docs: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol).as("__doc"),
      split(col(textCol), " ").as("__t"))
    val lens = toks.select(col("__doc"), size(col("__t")).cast(DoubleType).as("__dl"))
    // corpus constants: one row, broadcast into the scoring join
    val stats = lens.agg(
      count(lit(1)).cast(DoubleType).as("__n"), avg(col("__dl")).as("__avgdl"))
    // query terms de-duplicated per query (binary query-term weighting)
    val qterms = queries.select(col(idCol).as("__qid"),
      explode(array_distinct(split(col(textCol), " "))).as("__term"))
    // ONE corpus pass: explode carries the doc length alongside each
    // token (no lens re-join), the broadcast semi-join on the query
    // vocabulary prunes postings BEFORE the tf aggregate (df per
    // surviving term is unchanged — filtering by term drops whole
    // terms, never occurrences of a kept one), and document frequency
    // is a window count over the pruned postings instead of a separate
    // corpus-wide aggregate + shuffle join. Net: the corpus is
    // tokenized once and only query-matched postings ever shuffle.
    val qvocab = qterms.select(col("__term")).distinct()
    val postings = toks
      .select(col("__doc"), size(col("__t")).cast(DoubleType).as("__dl"),
        explode(col("__t")).as("__term"))
      .join(broadcast(qvocab), Seq("__term"), "left_semi")
      .groupBy(col("__doc"), col("__term"))
      .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"))
    val withDf = postings.withColumn("__df",
      count(lit(1)).over(Window.partitionBy(col("__term"))).cast(DoubleType))

    val contrib = withDf
      .join(broadcast(qterms), Seq("__term"))
      .crossJoin(broadcast(stats))
      .select(col("__qid"), col("__doc"),
        (log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))) *
          (col("__tf") * lit(k1 + 1.0)) /
          (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
          .as("__c"))
    contrib.groupBy(col("__qid"), col("__doc"))
      .agg(round(sum(col("__c")), 6).as("score"))
      .select(col("__qid").as("query_id"), col("__doc").as("doc_id"),
        col("score"))
  }

  /** Per-query top-k over a (query_id, doc_id, score) relation —
    * `WindowGroupLimit` pushes the limit into the shuffle.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** The shared BM25 scored relation. q94/q100/q195/q207 all rank the
    * SAME query/corpus split (queries = doc_id < 5, corpus = rest) and
    * only differ in k, which the scoring relation does not depend on —
    * so the corpus tokenize + postings + scoring join runs once per
    * suite instead of four times. |queries| × matched-docs rows.
    */
  private def sharedBm25Scored(spark: SparkSession, d: String): DataFrame =
    graft.core.SharedRelations.relation(spark, "bm25", d) {
      val docs = Tables.documents(spark, d)
      bm25Scored(docs.where(col("doc_id") >= 5),
        docs.where(col("doc_id") < 5), "doc_id", "text")
    }

  /** Declared q94: the first five documents as queries against the rest
    * of the corpus (same split as q77), BM25 top-5 each.
    */
  def q94Bm25TopK(spark: SparkSession, d: String): DataFrame =
    rankTopK(sharedBm25Scored(spark, d), k = 5)

  val q94Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id >= 5),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(t) AS term FROM corpus) GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM corpus),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(t) AS DOUBLE)) AS avgdl
      |       FROM corpus),
      |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |q AS (
      |  SELECT doc_id AS qid, unnest(list_distinct(string_split(text, ' '))) AS term
      |  FROM documents WHERE doc_id < 5),
      |sc AS (
      |  SELECT q.qid, tf.doc_id,
      |    round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
      |      (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM q JOIN tf USING (term) JOIN df USING (term)
      |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT qid, doc_id, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      |  FROM sc)
      |SELECT qid AS query_id, CAST(rank AS INT) AS rank, doc_id, score
      |FROM ranked WHERE rank <= 5""".stripMargin

  /** Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    * the lexical BM25 top-10 and the dense cosine top-10 for the same
    * query set fuse as score(d) = Σ_systems 1/(60 + rank_s(d)). Rank
    * lists come from the already-verified [[bm25TopK]] and
    * [[Similarity.bruteCosineTopK]] legs; fusion is a full-outer join
    * on (query, doc). Scale shape: both inputs are k-bounded PER QUERY
    * regardless of corpus size, so fusion cost is O(queries·k) — the
    * heavy lifting stays inside the two retrieval legs, which keep
    * their own broadcast-query/never-reshuffle-corpus plans. RRF
    * scores are rationals of integer ranks (identical on both
    * engines), rounded to 1e-6 and tie-broken by doc_id like every
    * ranking in the suite.
    */
  def q100HybridRrf(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val lex = rankTopK(sharedBm25Scored(spark, d), k = 10)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val dense = Similarity.bruteCosineTopK(emb.where(col("vec_id") >= 5),
        emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)), 6)
          .as("rrf_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_score"))
  }

  /** Oracle: both legs replayed in full (q94's BM25 SQL at k=10, q32's
    * exact cosine SQL), fused with the same RRF arithmetic.
    */
  val q100Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id >= 5),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(t) AS term FROM corpus) GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM corpus),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(t) AS DOUBLE)) AS avgdl
      |       FROM corpus),
      |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |q AS (
      |  SELECT doc_id AS qid, unnest(list_distinct(string_split(text, ' '))) AS term
      |  FROM documents WHERE doc_id < 5),
      |sc AS (
      |  SELECT q.qid, tf.doc_id,
      |    round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
      |      (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM q JOIN tf USING (term) JOIN df USING (term)
      |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
      |  GROUP BY 1, 2),
      |lex AS (
      |  SELECT qid AS query_id, doc_id, lex_rank FROM (
      |    SELECT qid, doc_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS lex_rank
      |    FROM sc) WHERE lex_rank <= 10),
      |dsc AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
      |    list_dot_product(list_transform(c.embedding, x -> CAST(x AS DOUBLE)),
      |                     list_transform(q.embedding, x -> CAST(x AS DOUBLE)))
      |     / (sqrt(list_dot_product(list_transform(c.embedding, x -> CAST(x AS DOUBLE)),
      |                              list_transform(c.embedding, x -> CAST(x AS DOUBLE))))
      |      * sqrt(list_dot_product(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
      |                              list_transform(q.embedding, x -> CAST(x AS DOUBLE))))) AS cos_sim
      |  FROM (SELECT * FROM embeddings WHERE vec_id >= 5) c
      |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q),
      |dense AS (
      |  SELECT query_id, doc_id, dense_rank FROM (
      |    SELECT query_id, doc_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, doc_id) AS dense_rank
      |    FROM dsc) WHERE dense_rank <= 10),
      |fused AS (
      |  SELECT coalesce(l.query_id, de.query_id) AS query_id,
      |         coalesce(l.doc_id, de.doc_id) AS doc_id,
      |         round(coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0) +
      |               coalesce(CAST(1.0 AS DOUBLE) / (60 + de.dense_rank), 0), 6) AS rrf_score
      |  FROM lex l FULL OUTER JOIN dense de
      |    ON l.query_id = de.query_id AND l.doc_id = de.doc_id)
      |SELECT query_id, rank, doc_id, rrf_score FROM (
      |  SELECT query_id, doc_id, rrf_score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
      |  FROM fused) WHERE rank <= 10""".stripMargin

  /** Exact phrase search via a POSITIONAL INVERTED INDEX — the way a
    * search engine answers quoted queries, and the scale-correct
    * alternative to scanning every document with a substring match:
    * the corpus explodes once to (doc, pos, token), each phrase token
    * selects only ITS posting list (rows = that token's corpus
    * frequency, not corpus size), and the lists join on
    * (doc, pos − offset). Overlapping occurrences count separately;
    * cost is driven by the RAREST token's frequency once the join
    * order puts it first.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: String): DataFrame = {
    val toks = phrase.split(" ")
    require(toks.nonEmpty, "empty phrase")
    val idx = docs
      .select(col(idCol).as("doc"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val first = idx.where(col("tok") === toks.head)
      .select(col("doc"), col("pos"))
    val matches = toks.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(
        idx.where(col("tok") === t)
          .select(col("doc"), (col("pos") - i).as("pos")),
        Seq("doc", "pos"))
    }
    matches.groupBy(col("doc").as(idCol))
      .agg(count(lit(1)).as("n_occ"))
  }

  /** Declared q126: a three-token phrase over the documents corpus. */
  def q126PhraseSearch(spark: SparkSession, d: String): DataFrame =
    phraseSearch(Tables.documents(spark, d), "doc_id", "text",
      "slow hash batch")

  val q126Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      |pos AS (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS i FROM t)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ
      |FROM pos
      |WHERE i + 2 <= len(a)
      |  AND a[CAST(i AS INT)] = 'slow'
      |  AND a[CAST(i AS INT) + 1] = 'hash'
      |  AND a[CAST(i AS INT) + 2] = 'batch'
      |GROUP BY doc_id""".stripMargin

  /** nDCG@k retrieval-quality evaluation (Järvelin & Kekäläinen, TOIS
    * 2002) — the metric harness that closes the retrieval stack: given
    * a system ranking and graded relevance labels,
    * DCG = Σ_{r≤k} (2^rel − 1)/log2(r+1), IDCG the same over the
    * corpus-wide ideal ordering, nDCG their ratio. Labels here are
    * md5-derived grades in 0..3 (the repo's portable-determinism
    * scheme: any engine recomputes the identical labels), so the
    * declared query pins the METRIC machinery — ranking join, discount
    * arithmetic, corpus-wide ideal — not a model.
    *
    * Scale shape: the system list is k-bounded per query; the ideal
    * list needs the best k grades per query over the WHOLE corpus —
    * one pass over broadcast(queries) × corpus with a per-query
    * `WindowGroupLimit`-prunable rank window, so corpus rows stream
    * through map tasks and only k survivors per query shuffle.
    * Sums are rounded to 6 dp before the ratio (≤k double terms;
    * rounding removes accumulation-order sensitivity, the q94
    * convention).
    */
  def ndcgAtK(
      system: DataFrame, // (query_id, rank, doc_id)
      corpusIds: DataFrame, // (doc_id)
      k: Int,
      relSalt: String): DataFrame = {
    def rel(q: org.apache.spark.sql.Column, dc: org.apache.spark.sql.Column) =
      pmod(graft.functions.GraftFunctions.hexLong(
        substring(md5(concat_ws("|", lit(relSalt), q, dc)), 1, 15)), lit(4))
        .cast(DoubleType)
    val discount = log(2.0, col("rank").cast(DoubleType) + lit(1.0))
    val dcg = system.where(col("rank") <= k)
      .select(col("query_id"),
        ((pow(lit(2.0), rel(col("query_id"), col("doc_id"))) - lit(1.0)) /
          discount).as("__g"))
      .groupBy(col("query_id"))
      .agg(round(sum(col("__g")), 6).as("dcg"))
    val queries = system.select(col("query_id")).distinct()
    val idealW = Window.partitionBy(col("query_id"))
      .orderBy(col("__rel").desc, col("doc_id"))
    val idcg = corpusIds.crossJoin(broadcast(queries))
      .select(col("query_id"), col("doc_id"),
        rel(col("query_id"), col("doc_id")).as("__rel"))
      .withColumn("rank", row_number().over(idealW))
      .where(col("rank") <= k)
      .select(col("query_id"),
        ((pow(lit(2.0), col("__rel")) - lit(1.0)) / discount).as("__g"))
      .groupBy(col("query_id"))
      .agg(round(sum(col("__g")), 6).as("idcg"))
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"), col("dcg"), col("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
  }

  /** Declared q195: nDCG@5 of the q94 BM25 ranking under md5-graded
    * relevance — same query/corpus split, k = 5.
    */
  def q195Ndcg(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val system = rankTopK(sharedBm25Scored(spark, d), k = 5)
    ndcgAtK(system, docs.where(col("doc_id") >= 5).select(col("doc_id")),
      k = 5, relSalt = "ndcg")
  }

  val q195Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id >= 5),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(t) AS term FROM corpus) GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM corpus),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(t) AS DOUBLE)) AS avgdl
      |       FROM corpus),
      |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |q AS (
      |  SELECT doc_id AS qid, unnest(list_distinct(string_split(text, ' '))) AS term
      |  FROM documents WHERE doc_id < 5),
      |sc AS (
      |  SELECT q.qid, tf.doc_id,
      |    round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
      |      (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM q JOIN tf USING (term) JOIN df USING (term)
      |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT qid, doc_id, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      |  FROM sc),
      |rel AS (
      |  SELECT qid, c.doc_id,
      |    CAST(('0x' || substring(md5('ndcg' || '|' ||
      |      CAST(qid AS VARCHAR) || '|' || CAST(c.doc_id AS VARCHAR)),
      |      1, 15))::BIGINT % 4 AS DOUBLE) AS rel
      |  FROM (SELECT DISTINCT qid FROM ranked) CROSS JOIN corpus c),
      |dcg AS (
      |  SELECT r.qid, round(sum((pow(2.0, rel.rel) - 1.0) /
      |    log2(r.rank + 1.0)), 6) AS dcg
      |  FROM ranked r JOIN rel ON rel.qid = r.qid AND rel.doc_id = r.doc_id
      |  WHERE r.rank <= 5 GROUP BY r.qid),
      |ideal AS (
      |  SELECT qid, rel,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY rel DESC, doc_id) AS rank
      |  FROM rel),
      |idcg AS (
      |  SELECT qid, round(sum((pow(2.0, rel) - 1.0) /
      |    log2(rank + 1.0)), 6) AS idcg
      |  FROM ideal WHERE rank <= 5 GROUP BY qid)
      |SELECT dcg.qid AS query_id, dcg.dcg, idcg.idcg,
      |  round(dcg.dcg / idcg.idcg, 6) AS ndcg
      |FROM dcg JOIN idcg USING (qid)""".stripMargin

  /** Binary-relevance retrieval eval — MRR and recall@k, the two
    * numbers a retrieval stack is actually tuned on day-to-day
    * ([[ndcgAtK]] is the graded-relevance sibling): reciprocal rank
    * of the FIRST relevant hit, and the fraction of ALL relevant
    * corpus docs surfaced in the top k. Relevance is the same
    * md5-derived grade scheme as q195 (portable determinism),
    * binarized at grade ≥ 2.
    *
    * Scale shape: the system side is k-bounded per query; the
    * denominator (relevant docs per query over the WHOLE corpus) is
    * one pass over broadcast(queries) × corpus collapsing straight
    * into a per-query count — corpus rows stream through map tasks,
    * only |queries| counter rows shuffle.
    *
    * @return per query: first_rel_rank (0 = none in top k), rr,
    *         hits, n_rel, recall
    */
  def mrrRecallAtK(
      system: DataFrame, // (query_id, rank, doc_id)
      corpusIds: DataFrame, // (doc_id)
      k: Int,
      relSalt: String,
      relThreshold: Int = 2): DataFrame = {
    def rel(q: org.apache.spark.sql.Column, dc: org.apache.spark.sql.Column) =
      pmod(graft.functions.GraftFunctions.hexLong(
        substring(md5(concat_ws("|", lit(relSalt), q, dc)), 1, 15)), lit(4))
    val sys = system.where(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        (rel(col("query_id"), col("doc_id")) >= relThreshold).as("__r"))
      .groupBy(col("query_id"))
      .agg(min(when(col("__r"), col("rank"))).as("__fr"),
        count(when(col("__r"), lit(1))).as("hits"))
    val queries = system.select(col("query_id")).distinct()
    val denom = corpusIds.crossJoin(broadcast(queries))
      .where(rel(col("query_id"), col("doc_id")) >= relThreshold)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    sys.join(denom, Seq("query_id"))
      .select(col("query_id"),
        coalesce(col("__fr"), lit(0)).cast("long").as("first_rel_rank"),
        round(coalesce(lit(1.0) / col("__fr"), lit(0.0)), 6).as("rr"),
        col("hits"), col("n_rel"),
        round(col("hits").cast(DoubleType) / col("n_rel"), 6).as("recall"))
  }

  /** Declared q207: MRR / recall@10 of the q94 BM25 ranking under the
    * q195 relevance scheme — same query/corpus split, k = 10.
    */
  def q207MrrRecall(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val system = rankTopK(sharedBm25Scored(spark, d), k = 10)
    mrrRecallAtK(system, docs.where(col("doc_id") >= 5).select(col("doc_id")),
      k = 10, relSalt = "mrr")
  }

  val q207Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id >= 5),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(t) AS term FROM corpus) GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM corpus),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(t) AS DOUBLE)) AS avgdl
      |       FROM corpus),
      |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |q AS (
      |  SELECT doc_id AS qid, unnest(list_distinct(string_split(text, ' '))) AS term
      |  FROM documents WHERE doc_id < 5),
      |sc AS (
      |  SELECT q.qid, tf.doc_id,
      |    round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
      |      (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM q JOIN tf USING (term) JOIN df USING (term)
      |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT qid, doc_id, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      |  FROM sc),
      |rel AS (
      |  SELECT qid, c.doc_id,
      |    ('0x' || substring(md5('mrr' || '|' ||
      |      CAST(qid AS VARCHAR) || '|' || CAST(c.doc_id AS VARCHAR)),
      |      1, 15))::BIGINT % 4 >= 2 AS r
      |  FROM (SELECT DISTINCT qid FROM ranked) CROSS JOIN corpus c),
      |sys AS (
      |  SELECT r.qid,
      |    min(CASE WHEN rel.r THEN r.rank END) AS fr,
      |    count(CASE WHEN rel.r THEN 1 END) AS hits
      |  FROM ranked r JOIN rel ON rel.qid = r.qid AND rel.doc_id = r.doc_id
      |  WHERE r.rank <= 10 GROUP BY r.qid),
      |denom AS (
      |  SELECT qid, count(*) AS n_rel FROM rel WHERE r GROUP BY qid)
      |SELECT sys.qid AS query_id,
      |  CAST(coalesce(fr, 0) AS BIGINT) AS first_rel_rank,
      |  round(coalesce(1.0 / fr, 0.0), 6) AS rr,
      |  hits, n_rel,
      |  round(CAST(hits AS DOUBLE) / n_rel, 6) AS recall
      |FROM sys JOIN denom USING (qid)""".stripMargin

  /** Trigram-index substring search — find every document containing
    * a literal pattern WITHOUT scanning every document's text: build
    * character-trigram postings, intersect the pattern's trigrams
    * (AND-semantics via a count-match aggregate — the classic
    * pg_trgm / Google Code Search plan, Cox 2012), then verify only
    * the surviving candidates with a real `contains`. Trigram
    * candidacy is NECESSARY but not sufficient (trigrams can match
    * across word boundaries in permuted order), hence the verify
    * step; it is also COMPLETE — any doc containing the pattern
    * contains all its trigrams — so recall is exactly 1 and the
    * result equals the naive scan the oracle runs.
    *
    * Scale shape: the pattern's trigram vocabulary is a PLAN CONSTANT,
    * so the probe semi-join is pushed all the way into the scan — each
    * document emits postings ONLY for the pattern trigrams it
    * contains (a |pattern|-probe higher-order filter over the literal
    * trigram array; no per-document trigram materialization), and
    * only those rows ever reach the shuffle. r7 exploded + distinct'd
    * the corpus's full ~50 M-row trigram relation per query and
    * filtered after: 2.2 s solo at sf0.1 vs 0.6 s pruned — a gap that
    * scales with corpus size. The AND is the same doc-keyed
    * count-match aggregate over the index-shaped postings relation; a
    * multi-query engine at 100 TB would materialize the FULL postings
    * table once and amortize it across queries (documented), which
    * this single-probe plan deliberately skips. The final `contains`
    * touches only candidate rows via a semi-join-pruned rescan.
    * Patterns shorter than 3 chars reject (no trigram selectivity; a
    * real engine falls back to the scan path).
    */
  def trigramSearch(docs: DataFrame, idCol: String, textCol: String,
      pattern: String): DataFrame = {
    require(pattern.length >= 3, "trigram search needs >= 3 chars")
    val pat = pattern.toLowerCase
    val patTris = pat.sliding(3).toSeq.distinct
    val postings = docs
      .select(col(idCol).as("__id"), lower(col(textCol)).as("__t"))
      .select(col("__id"), explode(
        filter(typedLit(patTris), t => contains(col("__t"), t))).as("__tri"))
    val probe = postings
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("__hit"))
      .where(col("__hit") === patTris.length)
      .select(col("__id").as(idCol))
    docs.join(broadcast(probe), Seq(idCol), "left_semi")
      .where(lower(col(textCol)).contains(pat))
      .select(col(idCol))
  }

  /** Declared q237: docs containing "fast merge" via the trigram
    * index plan; the oracle is the naive full scan — identical rows
    * prove the index path loses nothing.
    */
  def q237TrigramSearch(spark: SparkSession, d: String): DataFrame =
    trigramSearch(Tables.documents(spark, d), "doc_id", "text",
      "fast merge")

  val q237Sql: String =
    """SELECT doc_id FROM documents
      |WHERE contains(lower(text), 'fast merge')""".stripMargin
}

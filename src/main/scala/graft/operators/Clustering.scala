package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{GraftFunctions, VectorAvg}

/** Embedding-space clustering diagnostics and clustering itself —
  * label-quality scoring (silhouette) and spherical k-means over an
  * `array<float>` column. Reference scope: the reference repo has no
  * vector surface (SURVEY.md §2.E); these extend the mandated
  * similarity-search family (E14) with the training-data curation
  * steps that FOLLOW nearest-neighbor search: does a labeling carve
  * the space well, and what are the corpus's natural centers.
  *
  * Shared scale shape: k (or |labels|) is small; every per-point step
  * is a broadcast cross join against the centroid relation with the
  * codegen `cosine_similarity` kernel inside — one pass over the
  * points per round, no point×point pair ever materializes, no
  * driver-side vector math. Centroids come from the [[VectorAvg]]
  * UDAF, whose float32 `finish` also pins cross-engine numerics: the
  * oracle recomputes the same float-rounded centroids, so cosine
  * comparisons never ride on double summation order.
  */
object Clustering {

  /** Simplified (centroid-based) silhouette with cosine distance —
    * the label-quality score: a = distance to own label's centroid,
    * b = distance to the nearest OTHER centroid,
    * s = (b − a) / max(a, b) averaged per label. The classic
    * all-pairs silhouette is O(n²); the centroid form is the standard
    * linear-cost variant and is what scales to a corpus.
    *
    * @return per label: label, n, avg_silhouette
    */
  def cosineSilhouette(points: DataFrame, idCol: String, vecCol: String,
      labelCol: String, dim: Int): DataFrame = {
    val centroids = points.groupBy(col(labelCol).as("__clabel"))
      .agg(VectorAvg.of(dim)(col(vecCol)).as("__centroid"))
    val d = points
      .crossJoin(broadcast(centroids))
      .select(col(idCol), col(labelCol), col("__clabel"),
        (lit(1.0) - GraftFunctions.cosineSimilarity(col(vecCol),
          col("__centroid"))).as("__dist"))
    val ab = d.groupBy(col(idCol), col(labelCol)).agg(
      max(when(col("__clabel") === col(labelCol), col("__dist"))).as("__a"),
      min(when(col("__clabel") =!= col(labelCol), col("__dist"))).as("__b"))
    ab.groupBy(col(labelCol))
      .agg(count(lit(1)).as("n"),
        avg(when(greatest(col("__a"), col("__b")) > 0,
          (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
          .otherwise(0.0)).as("avg_silhouette"))
  }

  /** Declared q161: silhouette of the fixture's 10-way labeling. */
  def q161Silhouette(spark: SparkSession, d: String): DataFrame =
    cosineSilhouette(Tables.embeddings(spark, d),
      "vec_id", "embedding", "label", dim = 64)

  /** The cosine expression both q161/q162 oracles share (point list
    * `p`, centroid list already double).
    */
  private def sqlCos(p: String, c: String): String =
    s"""list_dot_product(list_transform($p, x -> CAST(x AS DOUBLE)), $c)
       |     / (sqrt(list_dot_product(list_transform($p, x -> CAST(x AS DOUBLE)),
       |                              list_transform($p, x -> CAST(x AS DOUBLE))))
       |        * sqrt(list_dot_product($c, $c)))""".stripMargin

  val q161Sql: String = {
    val cos = sqlCos("p.embedding", "c.centroid")
    s"""WITH dims AS (
       |  SELECT label, i,
       |    CAST(avg(CAST(embedding[i] AS DOUBLE)) AS FLOAT) AS c
       |  FROM embeddings, generate_series(1, 64) t(i)
       |  GROUP BY label, i),
       |cent AS (
       |  SELECT label AS clabel, list(CAST(c AS DOUBLE) ORDER BY i)
       |    AS centroid
       |  FROM dims GROUP BY label),
       |d AS (
       |  SELECT p.vec_id, p.label, c.clabel,
       |    1.0 - $cos AS dist
       |  FROM embeddings p CROSS JOIN cent c),
       |ab AS (
       |  SELECT vec_id, label,
       |    max(CASE WHEN clabel = label THEN dist END) AS a,
       |    min(CASE WHEN clabel <> label THEN dist END) AS b
       |  FROM d GROUP BY 1, 2)
       |SELECT label, CAST(count(*) AS BIGINT) AS n,
       |  avg(CASE WHEN greatest(a, b) > 0
       |        THEN (b - a) / greatest(a, b) ELSE 0.0 END)
       |    AS avg_silhouette
       |FROM ab GROUP BY label""".stripMargin
  }

  /** Spherical k-means (Lloyd iterations with cosine assignment) —
    * the corpus-structure primitive behind IVF index builds, topic
    * discovery, and diversity-aware sampling. Seeds are the k
    * lowest-id points (deterministic, no RNG); each round assigns
    * every point to its most-cosine-similar centroid (ties broken by
    * cluster id) and recomputes float-rounded centroids. A cluster
    * that loses every point drops out — both engines replay the same
    * rule, so the bounded unroll stays exact.
    *
    * @return per surviving cluster: cluster, n_points, avg_cos (the
    *         spherical analogue of inertia)
    */
  def sphericalKMeans(points: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int, dim: Int): DataFrame = {
    var centroids = points.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long").as("__cluster"),
        col(vecCol).as("__centroid"))
      .localCheckpoint()
    var assign: DataFrame = null
    val byPoint = Window.partitionBy(col(idCol))
      .orderBy(col("__cos").desc, col("__cluster"))
    for (_ <- 1 to iterations) {
      assign = points.crossJoin(broadcast(centroids))
        .withColumn("__cos",
          GraftFunctions.cosineSimilarity(col(vecCol), col("__centroid")))
        .withColumn("__rk", row_number().over(byPoint))
        .where(col("__rk") === 1)
      centroids = assign.groupBy(col("__cluster"))
        .agg(VectorAvg.of(dim)(col(vecCol)).as("__centroid"))
        .localCheckpoint()
    }
    assign.groupBy(col("__cluster").as("cluster"))
      .agg(count(lit(1)).as("n_points"), avg(col("__cos")).as("avg_cos"))
  }

  /** Declared q162: 8-way spherical k-means, 3 Lloyd rounds. */
  def q162KMeans(spark: SparkSession, d: String): DataFrame =
    sphericalKMeans(Tables.embeddings(spark, d),
      "vec_id", "embedding", k = 8, iterations = 3, dim = 64)

  val q162Sql: String = {
    val base =
      """WITH c0 AS MATERIALIZED (
        |  SELECT CAST(vec_id AS BIGINT) AS cluster,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8))""".stripMargin
    val iters = (1 to 3).map { i =>
      val cos = sqlCos("p.embedding", "c.centroid")
      s"""a$i AS MATERIALIZED (
         |  SELECT p.vec_id, p.embedding, c.cluster, $cos AS cos
         |  FROM embeddings p CROSS JOIN c${i - 1} c
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id
         |    ORDER BY cos DESC, c.cluster) = 1),
         |d$i AS MATERIALIZED (
         |  SELECT cluster, i,
         |    CAST(avg(CAST(embedding[i] AS DOUBLE)) AS FLOAT) AS c
         |  FROM a$i, generate_series(1, 64) t(i)
         |  GROUP BY cluster, i),
         |c$i AS MATERIALIZED (
         |  SELECT cluster, list(CAST(c AS DOUBLE) ORDER BY i) AS centroid
         |  FROM d$i GROUP BY cluster)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n_points,
       |  avg(cos) AS avg_cos
       |FROM a3 GROUP BY cluster""".stripMargin
  }

  /** Embedding-space outlier screen — the corpus-QA gate for an
    * embedding column: score every vector's cosine to ITS OWN group
    * centroid and flag the ones below `threshold` as likely mislabeled
    * / corrupted / out-of-distribution (the embedding analogue of
    * q50's text-quality filter; feeds the same quarantine workflow).
    *
    * Centroids are float32-rounded [[VectorAvg]] aggregates (the
    * engine-portability pin q161/q162 established: double-sum per
    * dimension, rounded to float, so cross-engine summation-order ULP
    * noise is absorbed before the cosine). Cosine is the native
    * codegen [[GraftFunctions.cosineSimilarity]] kernel, rounded to
    * 6 dp BEFORE the threshold compare so the flag itself is
    * engine-stable at the boundary.
    *
    * Scale shape: one group aggregate (map-combined, centroid count =
    * label cardinality), centroids broadcast back by label key (an
    * equi-join, not the silhouette's label × centroid cross join — own
    * centroid only), one codegen projection. Two linear passes at any
    * corpus size.
    *
    * @return (idCol, labelCol, cos_centroid, is_outlier) per vector
    */
  def embeddingOutliers(points: DataFrame, idCol: String, vecCol: String,
      labelCol: String, dim: Int, threshold: Double): DataFrame = {
    val centroids = points.groupBy(col(labelCol))
      .agg(VectorAvg.of(dim)(col(vecCol)).as("__centroid"))
    points
      .join(broadcast(centroids), Seq(labelCol))
      .select(col(idCol), col(labelCol),
        round(GraftFunctions.cosineSimilarity(col(vecCol), col("__centroid")),
          6).as("cos_centroid"))
      .withColumn("is_outlier", col("cos_centroid") < threshold)
  }

  /** Declared q197: outlier screen of the fixture's 10-way labeling at
    * cosine < 0.1 — low enough that only genuinely off-cluster vectors
    * flag (the labels are planted clusters; q161 scores their
    * cohesion, this names the stragglers).
    */
  def q197EmbeddingOutliers(spark: SparkSession, d: String): DataFrame =
    embeddingOutliers(Tables.embeddings(spark, d),
      "vec_id", "embedding", "label", dim = 64, threshold = 0.1)

  val q197Sql: String = {
    val cos = sqlCos("p.embedding", "c.centroid")
    s"""WITH dims AS (
       |  SELECT label, i,
       |    CAST(avg(CAST(embedding[i] AS DOUBLE)) AS FLOAT) AS c
       |  FROM embeddings, generate_series(1, 64) t(i)
       |  GROUP BY label, i),
       |cent AS (
       |  SELECT label, list(CAST(c AS DOUBLE) ORDER BY i) AS centroid
       |  FROM dims GROUP BY label)
       |SELECT p.vec_id, p.label,
       |  round($cos, 6) AS cos_centroid,
       |  round($cos, 6) < 0.1 AS is_outlier
       |FROM embeddings p JOIN cent c USING (label)""".stripMargin
  }

  /** Class-based TF-IDF cluster keywords (BERTopic's c-TF-IDF,
    * Grootendorst 2022): treat each class as ONE concatenated
    * document and score term t in class c as
    *
    *   tf_{t,c} · ln(1 + A / f_t)
    *
    * with A the mean token count per class and f_t the term's corpus
    * frequency — the top-scoring terms ARE the cluster's label. This
    * is the "what is this cluster about" step after q162/q213 produce
    * cluster assignments.
    *
    * Scale shape: one token explode → (class, term) hash aggregate
    * (map-combined) → term-keyed marginal + two broadcast scalars →
    * per-class rank window (WindowGroupLimit prunes to k inside each
    * partition). Class count scales out; nothing is ever pairwise.
    *
    * @return top-k per class: label, term, rank, score (6 dp)
    */
  def cTfIdfKeywords(docs: DataFrame, classCol: String, textCol: String,
      k: Int): DataFrame = {
    val tc = docs
      .select(col(classCol).as("label"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("label"), col("term"))
      .agg(count(lit(1)).as("__tf"))
      .localCheckpoint() // feeds the term marginal, class sizes, and scoring
    val ft = tc.groupBy(col("term")).agg(sum(col("__tf")).as("__ft"))
    val a = tc.groupBy(col("label")).agg(sum(col("__tf")).as("__sz"))
      .agg(avg(col("__sz")).as("__a"))
    val byScore = Window.partitionBy(col("label"))
      .orderBy(col("__score").desc, col("term"))
    tc.join(ft, Seq("term"))
      .crossJoin(broadcast(a))
      .withColumn("__score",
        round(col("__tf") * log(lit(1.0) + col("__a") / col("__ft")), 6))
      .withColumn("rank", row_number().over(byScore))
      .where(col("rank") <= k)
      .select(col("label"), col("term"), col("rank").cast("long").as("rank"),
        col("__score").as("score"))
  }

  /** Declared q224: top-5 keywords per embedding label, using the
    * document text paired by id (vec_id ↔ doc_id).
    */
  def q224CtfidfKeywords(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
    val labels = Tables.embeddings(spark, d)
      .select(col("vec_id").as("doc_id"), col("label"))
    cTfIdfKeywords(docs.join(labels, Seq("doc_id")), "label", "text", k = 5)
  }

  val q224Sql: String =
    """WITH j AS (
      |  SELECT e.label, d.text FROM documents d
      |  JOIN embeddings e ON e.vec_id = d.doc_id),
      |tc AS (
      |  SELECT label, unnest(string_split(text, ' ')) AS term
      |  FROM j),
      |cnt AS (SELECT label, term, count(*) AS tf FROM tc GROUP BY 1, 2),
      |ft AS (SELECT term, sum(tf) AS ft FROM cnt GROUP BY 1),
      |a AS (SELECT avg(sz) AS a FROM
      |  (SELECT label, sum(tf) AS sz FROM cnt GROUP BY 1)),
      |sc AS (
      |  SELECT cnt.label, cnt.term,
      |    round(cnt.tf * ln(1.0 + a.a / ft.ft), 6) AS score
      |  FROM cnt JOIN ft USING (term) CROSS JOIN a)
      |SELECT label, term,
      |  CAST(row_number() OVER (PARTITION BY label
      |    ORDER BY score DESC, term) AS BIGINT) AS rank,
      |  score
      |FROM sc
      |QUALIFY row_number() OVER (PARTITION BY label
      |  ORDER BY score DESC, term) <= 5""".stripMargin

  /** Grid-blocked DBSCAN over a 2-D point set — density clustering,
    * the shape-agnostic complement to [[sphericalKMeans]] (k-means
    * carves convex cells; DBSCAN finds arbitrarily-shaped dense
    * regions and EXPLICITLY labels noise). The classic algorithm is a
    * sequential region-grow; the scale form here is the standard
    * parallel decomposition:
    *
    *   1. bin points into eps-width grid cells — neighbor candidates
    *      can only live in the 3×3 cell block, so the candidate join
    *      is cell-keyed (never all-pairs; the grid IS the index);
    *   2. neighborhood counts → core flags (|N_eps(p)| ≥ minPts,
    *      self included — pinned convention);
    *   3. connected components over core–core eps-edges (the
    *      pointer-jumping [[Components.connectedComponents]]);
    *   4. border points attach to their minimum neighboring core
    *      cluster (deterministic tie-break); the rest is noise
    *      (cluster −1).
    *
    * Equivalence to sequential DBSCAN: core sets and core-cluster
    * merges are order-independent; only border ties are
    * order-dependent in the textbook version, pinned here to min.
    *
    * @param points (idCol, x, y) — x/y already rounded enough that
    *               cross-engine doubles are identical (q208's 6 dp)
    */
  def gridDbscan(points: DataFrame, idCol: String, eps: Double,
      minPts: Int): DataFrame = {
    require(eps > 0 && minPts >= 1)
    val cellX = floor(col("x") / eps).cast("long")
    val cellY = floor(col("y") / eps).cast("long")
    val pts = points
      .select(col(idCol).as("__id"), col("x"), col("y"),
        cellX.as("cx"), cellY.as("cy"))
      .localCheckpoint()
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct((col("cx") + dx).as("gx"), (col("cy") + dy).as("gy"))
    val probes = pts.select(col("__id").as("a"), col("x").as("ax"),
        col("y").as("ay"), explode(array(offsets: _*)).as("g"))
      .select(col("a"), col("ax"), col("ay"),
        col("g.gx").as("gx"), col("g.gy").as("gy"))
    val build = pts.select(col("__id").as("b"), col("x").as("bx"),
      col("y").as("by"), col("cx").as("gx"), col("cy").as("gy"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    val pairs = probes.join(build, Seq("gx", "gy"))
      .where(d2 <= eps * eps)
      .select(col("a"), col("b"))
      .localCheckpoint() // consumed by counts, core edges, and borders
    val core = pairs.groupBy(col("a")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minPts)
      .select(col("a").as("__core"))
      .localCheckpoint()
    val coreEdges = pairs
      .join(core.select(col("__core").as("a")), Seq("a"), "left_semi")
      .join(core.select(col("__core").as("b")), Seq("b"), "left_semi")
      .where(col("a") < col("b"))
    val comp = Components.connectedComponents(coreEdges, "a", "b")
    // isolated cores (enough non-core neighbors, no core neighbor)
    // keep their own id as cluster
    val coreClu = core.select(col("__core").as("id"))
      .join(comp.select(col("node").as("id"), col("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("cluster"))
      .localCheckpoint()
    val borderClu = pairs
      .join(core.select(col("__core").as("a")), Seq("a"), "left_anti")
      .join(coreClu.select(col("id").as("b"), col("cluster")), Seq("b"))
      .groupBy(col("a")).agg(min(col("cluster")).as("cluster"))
      .select(col("a").as("id"), col("cluster"))
    val labeled = coreClu.select(col("id"), lit("core").as("role"),
        col("cluster"))
      .unionAll(borderClu.select(col("id"), lit("border").as("role"),
        col("cluster")))
    pts.select(col("__id").as("id"))
      .join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }

  /** Declared q213: DBSCAN(eps 0.2, minPts 5) on the q208 2-D
    * random-projection sketch of the fixture embeddings — projection
    * and clustering compose into one density map of the corpus.
    */
  def q213Dbscan(spark: SparkSession, d: String): DataFrame =
    gridDbscan(
      Similarity.randomProjection(Tables.embeddings(spark, d),
        "vec_id", "embedding", inDims = 64, outDims = 2, salt = "rp")
        .select(col("vec_id"), col("p0").as("x"), col("p1").as("y")),
      "vec_id", eps = 0.2, minPts = 5)
      .select(col("id").as("vec_id"), col("role"), col("cluster"))

  val q213Sql: String = {
    def proj(j: Int) =
      s"round(list_sum(list_transform(generate_series(1, 64), " +
        s"i -> CAST(embedding[i] AS DOUBLE) * " +
        s"(CASE WHEN ('0x' || substring(md5('rp|$j|' || CAST(i AS VARCHAR)), " +
        s"1, 15))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END))) / sqrt(2), 6)"
    s"""WITH RECURSIVE pts AS (
       |  SELECT vec_id AS id, ${proj(0)} AS x, ${proj(1)} AS y
       |  FROM embeddings WHERE len(embedding) = 64),
       |g AS (
       |  SELECT id, x, y, CAST(floor(x / 0.2) AS BIGINT) AS cx,
       |    CAST(floor(y / 0.2) AS BIGINT) AS cy
       |  FROM pts),
       |pairs AS (
       |  SELECT p.id AS a, q.id AS b
       |  FROM g p JOIN g q
       |    ON q.cx BETWEEN p.cx - 1 AND p.cx + 1
       |   AND q.cy BETWEEN p.cy - 1 AND p.cy + 1
       |   AND (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)
       |       <= 0.2 * 0.2),
       |core AS (SELECT a AS id FROM pairs GROUP BY a
       |         HAVING count(*) >= 5),
       |ce AS (
       |  SELECT p.a AS u, p.b AS v FROM pairs p
       |  JOIN core c1 ON c1.id = p.a JOIN core c2 ON c2.id = p.b
       |  WHERE p.a < p.b),
       |edges AS (SELECT u, v FROM ce UNION SELECT v, u FROM ce),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |  WHERE e.v <> r.u),
       |comp AS (SELECT u AS id, least(u, min(v)) AS cluster
       |         FROM reach GROUP BY u),
       |coreclu AS (
       |  SELECT c.id, coalesce(k.cluster, c.id) AS cluster
       |  FROM core c LEFT JOIN comp k USING (id)),
       |borderclu AS (
       |  SELECT p.a AS id, min(k.cluster) AS cluster
       |  FROM pairs p
       |  JOIN coreclu k ON k.id = p.b
       |  LEFT JOIN core sc ON sc.id = p.a
       |  WHERE sc.id IS NULL GROUP BY p.a),
       |lab AS (
       |  SELECT id, 'core' AS role, cluster FROM coreclu
       |  UNION ALL
       |  SELECT id, 'border', cluster FROM borderclu)
       |SELECT g.id AS vec_id, coalesce(lab.role, 'noise') AS role,
       |  coalesce(lab.cluster, -1) AS cluster
       |FROM g LEFT JOIN lab ON lab.id = g.id""".stripMargin
  }

  /** Fold-ordered squared L2 between two array columns (floats cast to
    * double per element) — the pinned distance every PQ/IVF stage and
    * its oracle share.
    */
  private[operators] def l2sq(a: org.apache.spark.sql.Column,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      zip_with(a, c, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, v) => acc + v)

  /** The shared PQ trainer+encoder behind [[productQuantize]] and
    * [[ivfPqTopK]]: returns (codebooks, final assignment) —
    * codebooks as (__block, __code, __c array<double>), assignment as
    * one row per (point, block) with its nearest code and distance.
    */
  private[operators] def pqTrainEncode(points: DataFrame, idCol: String,
      vecCol: String, m: Int, subDim: Int, ks: Int,
      iterations: Int): (DataFrame, DataFrame) = {
    // ALL m blocks ride one relation keyed by (id, block): every
    // training round is ONE block-keyed broadcast join + ONE argmin
    // window + ONE (block, code) aggregate for the whole codebook set
    // (the per-block-sequential first cut paid m× the job floors —
    // measured 5.0 s vs 1.6 s at sf0.1 for identical output)
    val sub = points.select(col(idCol).as("__id"), inline(array(
      (0 until m).map(b => struct(lit(b).as("__block"),
        slice(col(vecCol), b * subDim + 1, subDim).as("__sv"))): _*)))
      .localCheckpoint()
    val byPoint = Window.partitionBy(col("__id"), col("__block"))
      .orderBy(col("__d").asc, col("__code"))
    var centroids = points.orderBy(col(idCol)).limit(ks)
      .select((row_number().over(Window.orderBy(col(idCol))) - 1)
        .cast("long").as("__code"), col(vecCol).as("__v"))
      .select(col("__code"), inline(array(
        (0 until m).map(b => struct(lit(b).as("__block"),
          slice(col("__v"), b * subDim + 1, subDim)
            .cast("array<double>").as("__c"))): _*)))
      .localCheckpoint()
    var assign: DataFrame = null
    for (it <- 1 to iterations + 1) {
      assign = sub.join(broadcast(centroids), Seq("__block"))
        .withColumn("__d", l2sq(col("__sv"), col("__c")))
        .withColumn("__rk", row_number().over(byPoint))
        .where(col("__rk") === 1)
      // the last pass is the ENCODE against the trained codebook — no
      // centroid update after it
      if (it <= iterations)
        centroids = assign.groupBy(col("__block"), col("__code"))
          .agg(VectorAvg.of(subDim)(col("__sv")).as("__c"))
          .localCheckpoint()
    }
    // trained codebook entries are float arrays out of VectorAvg; the
    // seed round's array<double> shape is normalized so consumers see
    // one type
    (centroids.select(col("__block"), col("__code"),
      col("__c").cast("array<double>").as("__c")),
      assign)
  }

  /** Product quantization (Jégou et al., PAMI 2011) — the compression
    * scheme behind billion-scale ANN (FAISS IVF-PQ): split every
    * vector into `m` subvectors, train an independent `ks`-centroid
    * L2 k-means codebook per block (pinned Lloyd rounds, lowest-id
    * seeds — the q162 determinism discipline), and encode each vector
    * as its m nearest-centroid codes. A 64-dim float32 vector (256 B)
    * becomes m bytes — at 100 TB of embeddings the difference between
    * an index that fits executor memory and one that doesn't. The
    * declared relation carries each vector's codes plus its total
    * squared reconstruction error, so codebook drift, assignment
    * tie-breaks, and the distance arithmetic are all hash-gated.
    *
    * Scale shape: codebooks are ks·m rows (metadata); every training
    * round and the final encode are ONE broadcast cross-join pass over
    * the points per block with a fold-ordered L2 kernel — no
    * point×point relation. In production the trainer runs on a
    * fixed-size sample and only the single encode pass touches the
    * full corpus (documented); the fixture trains on all rows because
    * it IS sample-sized. All arithmetic is double over float-cast
    * inputs with left-fold summation, and centroids round through
    * float32 ([[VectorAvg]]) — the exact pins that let DuckDB replay
    * bit-identical codes.
    *
    * @return (idCol, code_0 … code_{m−1}, qerr) — code_b = the 0-based
    *         centroid id in block b's codebook, qerr = Σ_b ‖sub_b −
    *         centroid‖² rounded 6 dp
    */
  def productQuantize(points: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, ks: Int, iterations: Int): DataFrame = {
    val (_, assign) = pqTrainEncode(points, idCol, vecCol, m, subDim,
      ks, iterations)
    val aggs = (0 until m).map(b =>
      max(when(col("__block") === b, col("__code"))).as(s"code_$b")) :+
      round(sum(col("__d")), 6).as("qerr")
    assign.groupBy(col("__id").as(idCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Declared q268: 4×16-dim PQ codes (8 centroids per block, 2 Lloyd
    * rounds) over the embeddings fixture. Training rides the
    * suite-shared [[sharedCodebooks]] build (identical codebooks —
    * blocks train independently); the timed row is the encode pass +
    * the per-vector code/qerr aggregation.
    */
  def q268PqCodes(spark: SparkSession, d: String): DataFrame =
    pqCodesFrom(Tables.embeddings(spark, d), "vec_id", "embedding",
      m = 4, subDim = 16,
      sharedCodebooks(spark, d).where(col("__block") < 4))

  val q268Sql: String = {
    // (x−c)·(x−c) spelled as a product, NOT power(...,2): pow's libm
    // path is not guaranteed bit-equal to plain multiplication
    def l2(p: String, c: String): String =
      s"""list_sum(list_transform(range(1, 17),
         |    j -> (CAST($p[j] AS DOUBLE) - $c[j]) *
         |         (CAST($p[j] AS DOUBLE) - $c[j])))""".stripMargin
    val blocks = (0 until 4).map { b =>
      val off = b * 16
      val seed =
        s"""s${b}_0 AS MATERIALIZED (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
           |      AS code,
           |    list_transform(embedding[${off + 1}:${off + 16}],
           |      x -> CAST(x AS DOUBLE)) AS c
           |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8))""".stripMargin
      val rounds = (1 to 2).map { r =>
        s"""a${b}_$r AS MATERIALIZED (
           |  SELECT p.vec_id, p.embedding[${off + 1}:${off + 16}] AS sv,
           |    c.code, ${l2(s"p.embedding[${off + 1}:${off + 16}]", "c.c")} AS d
           |  FROM embeddings p CROSS JOIN s${b}_${r - 1} c
           |  QUALIFY row_number() OVER (PARTITION BY p.vec_id
           |    ORDER BY d, c.code) = 1),
           |m${b}_$r AS MATERIALIZED (
           |  SELECT code, j, CAST(avg(CAST(sv[j] AS DOUBLE)) AS FLOAT) AS c
           |  FROM a${b}_$r, generate_series(1, 16) t(j)
           |  GROUP BY code, j),
           |s${b}_$r AS MATERIALIZED (
           |  SELECT code, list(CAST(c AS DOUBLE) ORDER BY j) AS c
           |  FROM m${b}_$r GROUP BY code)""".stripMargin
      }.mkString(",\n")
      val enc =
        s"""e$b AS MATERIALIZED (
           |  SELECT p.vec_id, c.code,
           |    ${l2(s"p.embedding[${off + 1}:${off + 16}]", "c.c")} AS d
           |  FROM embeddings p CROSS JOIN s${b}_2 c
           |  QUALIFY row_number() OVER (PARTITION BY p.vec_id
           |    ORDER BY d, c.code) = 1)""".stripMargin
      s"$seed,\n$rounds,\n$enc"
    }.mkString(",\n")
    s"""WITH $blocks
       |SELECT e0.vec_id,
       |  e0.code AS code_0, e1.code AS code_1,
       |  e2.code AS code_2, e3.code AS code_3,
       |  round(e0.d + e1.d + e2.d + e3.d, 6) AS qerr
       |FROM e0
       |JOIN e1 USING (vec_id) JOIN e2 USING (vec_id)
       |JOIN e3 USING (vec_id)""".stripMargin
  }

  /** IVF-PQ approximate nearest-neighbor search (Jégou et al. 2011;
    * the FAISS `IVFx,PQy` composition, `by_residual=false` variant) —
    * the capstone of the similarity pillar: a coarse `nlist`-centroid
    * quantizer partitions the corpus into inverted lists, PQ codes
    * compress every vector to `m` bytes, and a query (1) probes its
    * `nprobe` nearest coarse lists, (2) builds an m×ks
    * asymmetric-distance (ADC) lookup table — query subvector vs every
    * codebook entry, m·ks small L2s — and (3) scores ONLY the probed
    * lists' members by summing m table lookups per candidate. This is
    * how a 10⁹-vector index answers in milliseconds: the corpus is
    * touched through `nprobe/nlist` of its lists, at m bytes per
    * member.
    *
    * Both quantizers reuse [[pqTrainEncode]] (the coarse one is a
    * 1-block PQ over the full vector); every distance is the pinned
    * fold-ordered [[l2sq]]; ADC sums add block terms in FIXED block
    * order and round to 6 dp BEFORE ranking (the q94 discipline) so
    * rank order is engine-stable. The declared relation also flags
    * whether each ADC hit is in the EXACT L2 top-k — the recall
    * readout that tells a user what the compression cost them, and the
    * oracle recomputes the exact side too, so neither ranking can
    * drift silently.
    *
    * Scale shape: codebooks and the per-query LUT are metadata
    * (broadcast); candidate generation is an equi-join on the list id
    * (never a cross join against the corpus); the exact-recall leg is
    * query-count × corpus and exists for the AUDIT — production runs
    * it on a query sample (documented).
    *
    * @return (query_id, rank, idCol, adc, in_exact_topk)
    */
  def ivfPqTopK(points: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, nlist: Int, nprobe: Int,
      m: Int, subDim: Int, ks: Int, iterations: Int,
      topK: Int): DataFrame =
    ivfPqSearch(points, idCol, vecCol, queryPred, nprobe, m, subDim,
      topK, ivfPqTrain(points, idCol, vecCol, nlist, m, subDim, ks,
        iterations))

  /** The fused-block struct array: blocks 0..m-1 are the PQ
    * subvectors, block m is the FULL vector (the coarse quantizer's
    * input). [[pqBlocks]] is the PQ-only prefix.
    */
  private def ivfBlocks(m: Int, subDim: Int)(
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = array(
    (0 until m).map(b => struct(lit(b).as("__block"),
      slice(v, b * subDim + 1, subDim).as("__sv"))) :+
      struct(lit(m).as("__block"), v.as("__sv")): _*)

  private def pqBlocks(m: Int, subDim: Int)(
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = array(
    (0 until m).map(b => struct(lit(b).as("__block"),
      slice(v, b * subDim + 1, subDim).as("__sv"))): _*)

  /** The training half of [[ivfPqTopK]], returning the trained
    * codebooks (__block, __code, __c array<double>) for blocks
    * 0..m (block m = the coarse quantizer). BOTH quantizers train in
    * ONE (id, block)-keyed loop: blocks are independent in the math
    * (the oracle trains them separately), so fusing them is
    * execution-only and halves the training job count (separate
    * trainers measured 4.6 s vs 2.9 s fused at sf0.1). The two
    * codebook widths ride one aggregate via dim-specific VectorAvg
    * columns coalesced per block. Because the per-block updates only
    * ever read their own block's assignments, blocks 0..m-1 train to
    * EXACTLY the codebooks the q268-config [[pqTrainEncode]] produces
    * — which is what lets one suite-shared training serve
    * q268/q270/q274 (see [[sharedCodebooks]]).
    */
  private[operators] def ivfPqTrain(points: DataFrame, idCol: String,
      vecCol: String, nlist: Int, m: Int, subDim: Int, ks: Int,
      iterations: Int): DataFrame = {
    val dim = m * subDim
    val seedN = math.max(ks, nlist)
    val sub = points
      .select(col(idCol).as("__id"), inline(ivfBlocks(m, subDim)(col(vecCol))))
      .localCheckpoint()
    var centroids = points.orderBy(col(idCol)).limit(seedN)
      .select((row_number().over(Window.orderBy(col(idCol))) - 1)
        .cast("long").as("__code"), col(vecCol).as("__v"))
      .select(col("__code"), inline(ivfBlocks(m, subDim)(col("__v"))))
      .where((col("__block") < m && col("__code") < ks) ||
        (col("__block") === m && col("__code") < nlist))
      .select(col("__block"), col("__code"),
        col("__sv").cast("array<double>").as("__c"))
      .localCheckpoint()
    val byPB = Window.partitionBy(col("__id"), col("__block"))
      .orderBy(col("__d").asc, col("__code"))
    for (_ <- 1 to iterations) {
      val assign = sub.join(broadcast(centroids), Seq("__block"))
        .withColumn("__d", l2sq(col("__sv"), col("__c")))
        .withColumn("__rk", row_number().over(byPB))
        .where(col("__rk") === 1)
      centroids = assign.groupBy(col("__block"), col("__code"))
        .agg(VectorAvg.of(dim)(when(col("__block") === m, col("__sv")))
          .as("__cf"),
          VectorAvg.of(subDim)(when(col("__block") < m, col("__sv")))
            .as("__cs"))
        .select(col("__block"), col("__code"),
          coalesce(col("__cf"), col("__cs"))
            .cast("array<double>").as("__c"))
        .localCheckpoint()
    }
    centroids
  }

  /** The query half of [[ivfPqTopK]]: one encode pass of the corpus
    * against the given codebooks, then probes/LUT/ADC/exact-audit.
    * Round 15: the encode materialization is projected to
    * (__id, __block, __code) BEFORE the checkpoint — its two consumers
    * (lists, codes) read nothing else, and the unprojected checkpoint
    * carried every subvector, the joined centroid array and the
    * distance per row (guide §2.3: don't materialize payloads the
    * consumers never touch).
    */
  private[operators] def ivfPqSearch(points: DataFrame, idCol: String,
      vecCol: String, queryPred: org.apache.spark.sql.Column,
      nprobe: Int, m: Int, subDim: Int, topK: Int,
      centroids: DataFrame): DataFrame = {
    val byPB = Window.partitionBy(col("__id"), col("__block"))
      .orderBy(col("__d").asc, col("__code"))
    val assign = points
      .select(col(idCol).as("__id"), inline(ivfBlocks(m, subDim)(col(vecCol))))
      .join(broadcast(centroids), Seq("__block"))
      .withColumn("__d", l2sq(col("__sv"), col("__c")))
      .withColumn("__rk", row_number().over(byPB))
      .where(col("__rk") === 1)
    val encode = assign.select(col("__id"), col("__block"), col("__code"))
      .localCheckpoint()
    val lists = encode.where(col("__block") === m)
      .select(col("__id").as("__cand"), col("__code").as("__list"))
    val codes = encode.where(col("__block") < m)
      .select(col("__id").as("__cand"), col("__block"), col("__code"))
    val coarseCb = centroids.where(col("__block") === m)
    val pqCb = centroids.where(col("__block") < m)
    val qs = points.where(queryPred)
      .select(col(idCol).as("__qid"), col(vecCol).as("__qv"))
      .localCheckpoint()
    val byQ = Window.partitionBy(col("__qid"))
      .orderBy(col("__d").asc, col("__code"))
    val probes = qs
      .crossJoin(broadcast(coarseCb.select(col("__code"), col("__c"))))
      .withColumn("__d", l2sq(col("__qv"), col("__c")))
      .withColumn("__rk", row_number().over(byQ))
      .where(col("__rk") <= nprobe)
      .select(col("__qid"), col("__code").as("__list"))
    val lut = qs
      .select(col("__qid"), inline(array(
        (0 until m).map(b => struct(lit(b).as("__block"),
          slice(col("__qv"), b * subDim + 1, subDim).as("__qsv"))): _*)))
      .join(broadcast(pqCb), Seq("__block"))
      .select(col("__qid"), col("__block"), col("__code"),
        l2sq(col("__qsv"), col("__c")).as("__ld"))
    val cands = probes
      .join(lists, Seq("__list"))
      .where(col("__cand") =!= col("__qid"))
      .select(col("__qid"), col("__cand"))
    // ADC: per candidate, m LUT lookups pivoted to fixed block order so
    // the sum adds identically on both engines
    val blockAggs = (0 until m).map(b =>
      max(when(col("__block") === b, col("__ld"))).as(s"__d$b"))
    val adc = cands
      .join(codes, Seq("__cand"))
      .join(lut, Seq("__qid", "__block", "__code"))
      .groupBy(col("__qid"), col("__cand"))
      .agg(blockAggs.head, blockAggs.tail: _*)
      .select(col("__qid"), col("__cand"),
        round((0 until m).map(b => col(s"__d$b")).reduce(_ + _), 6)
          .as("__adc"))
    val ranked = adc
      .withColumn("__rk", row_number().over(Window.partitionBy(col("__qid"))
        .orderBy(col("__adc").asc, col("__cand").asc)))
      .where(col("__rk") <= topK)
    // exact-L2 audit leg: query-sample × corpus, rounded-then-ranked
    val exact = qs
      .crossJoin(points.select(col(idCol).as("__cand"),
        col(vecCol).as("__cv")))
      .where(col("__cand") =!= col("__qid"))
      .select(col("__qid"), col("__cand"),
        round(l2sq(col("__qv"), col("__cv")), 6).as("__ed"))
      .withColumn("__rk", row_number().over(Window.partitionBy(col("__qid"))
        .orderBy(col("__ed").asc, col("__cand").asc)))
      .where(col("__rk") <= topK)
      .select(col("__qid"), col("__cand"), lit(true).as("__hit"))
    ranked
      .join(exact, Seq("__qid", "__cand"), "left")
      .select(col("__qid").as("query_id"), col("__rk").as("rank"),
        col("__cand").as(idCol), col("__adc").as("adc"),
        coalesce(col("__hit"), lit(false)).as("in_exact_topk"))
  }

  /** Suite-shared trained codebooks for the declared PQ/IVF rows'
    * common configuration (4×16-dim PQ at 8 centroids, 2 Lloyd rounds,
    * 8 coarse lists): q268, q270 and q274 all train this exact codebook
    * set per invocation, and training is one-time index work in any
    * real deployment — so it runs once as a `shared:pq_codebooks`
    * bench row (the q94/BM25 precedent) while every declared row still
    * pays its own ENCODE/probe pass over the corpus. The shared
    * relation is ks·m + nlist = 40 rows of centroid metadata, never
    * corpus-sized; the Lloyd rounds' own checkpoints (the corpus-sized
    * subvector relation among them) are not kept.
    */
  private def sharedCodebooks(spark: SparkSession, d: String): DataFrame =
    graft.core.SharedRelations.relation(spark, "pq_codebooks", d) {
      ivfPqTrain(Tables.embeddings(spark, d), "vec_id", "embedding",
        nlist = 8, m = 4, subDim = 16, ks = 8, iterations = 2)
    }

  /** PQ codes + reconstruction error per vector from an already-trained
    * codebook — the encode half of [[productQuantize]].
    */
  private[operators] def pqCodesFrom(points: DataFrame, idCol: String,
      vecCol: String, m: Int, subDim: Int, cb: DataFrame): DataFrame = {
    val byPB = Window.partitionBy(col("__id"), col("__block"))
      .orderBy(col("__d").asc, col("__code"))
    val assign = points
      .select(col(idCol).as("__id"), inline(pqBlocks(m, subDim)(col(vecCol))))
      .join(broadcast(cb), Seq("__block"))
      .withColumn("__d", l2sq(col("__sv"), col("__c")))
      .withColumn("__rk", row_number().over(byPB))
      .where(col("__rk") === 1)
    val aggs = (0 until m).map(b =>
      max(when(col("__block") === b, col("__code"))).as(s"code_$b")) :+
      round(sum(col("__d")), 6).as("qerr")
    assign.groupBy(col("__id").as(idCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Declared q270: IVF-PQ top-5 for the 10 lowest-id query vectors —
    * 8 coarse lists probed 2-deep, 4×16-dim PQ at 8 centroids (the
    * q268 codebook configuration), with the exact-top-5 recall flag.
    * Training rides the suite-shared [[sharedCodebooks]] build; the
    * timed row is the corpus encode + probe/ADC/exact-audit.
    */
  def q270IvfPq(spark: SparkSession, d: String): DataFrame =
    ivfPqSearch(Tables.embeddings(spark, d), "vec_id", "embedding",
      col("vec_id") < 10, nprobe = 2, m = 4, subDim = 16, topK = 5,
      sharedCodebooks(spark, d))

  /** Parameterized PQ-block CTE generator for the q270 oracle: per
    * block, seed codebook, `iters` Lloyd rounds, and a final encode
    * CTE `e$pfx$b` (vec_id, code, d); trained codebooks land in
    * `s$pfx${b}_$iters`.
    */
  private def sqlPqCtes(m: Int, subDim: Int, ks: Int, iters: Int,
      pfx: String): String = {
    def l2(p: String, c: String): String =
      s"""list_sum(list_transform(range(1, ${subDim + 1}),
         |    j -> (CAST($p[j] AS DOUBLE) - $c[j]) *
         |         (CAST($p[j] AS DOUBLE) - $c[j])))""".stripMargin
    (0 until m).map { b =>
      val off = b * subDim
      val sl = s"embedding[${off + 1}:${off + subDim}]"
      val seed =
        s"""s$pfx${b}_0 AS MATERIALIZED (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
           |      AS code,
           |    list_transform($sl, x -> CAST(x AS DOUBLE)) AS c
           |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $ks))""".stripMargin
      val rounds = (1 to iters).map { r =>
        s"""a$pfx${b}_$r AS MATERIALIZED (
           |  SELECT p.vec_id, p.$sl AS sv, c.code, ${l2(s"p.$sl", "c.c")} AS d
           |  FROM embeddings p CROSS JOIN s$pfx${b}_${r - 1} c
           |  QUALIFY row_number() OVER (PARTITION BY p.vec_id
           |    ORDER BY d, c.code) = 1),
           |m$pfx${b}_$r AS MATERIALIZED (
           |  SELECT code, j, CAST(avg(CAST(sv[j] AS DOUBLE)) AS FLOAT) AS c
           |  FROM a$pfx${b}_$r, generate_series(1, $subDim) t(j)
           |  GROUP BY code, j),
           |s$pfx${b}_$r AS MATERIALIZED (
           |  SELECT code, list(CAST(c AS DOUBLE) ORDER BY j) AS c
           |  FROM m$pfx${b}_$r GROUP BY code)""".stripMargin
      }.mkString(",\n")
      val enc =
        s"""e$pfx$b AS MATERIALIZED (
           |  SELECT p.vec_id, c.code, ${l2(s"p.$sl", "c.c")} AS d
           |  FROM embeddings p CROSS JOIN s$pfx${b}_$iters c
           |  QUALIFY row_number() OVER (PARTITION BY p.vec_id
           |    ORDER BY d, c.code) = 1)""".stripMargin
      s"$seed,\n$rounds,\n$enc"
    }.mkString(",\n")
  }

  val q270Sql: String = {
    def l2full(p: String, c: String): String =
      s"""list_sum(list_transform(range(1, 65),
         |    j -> (CAST($p[j] AS DOUBLE) - CAST($c[j] AS DOUBLE)) *
         |         (CAST($p[j] AS DOUBLE) - CAST($c[j] AS DOUBLE))))""".stripMargin
    def l2sub(q: String, c: String): String =
      s"""list_sum(list_transform(range(1, 17),
         |    j -> (CAST($q[j] AS DOUBLE) - $c[j]) *
         |         (CAST($q[j] AS DOUBLE) - $c[j])))""".stripMargin
    val luts = (0 until 4).map { b =>
      val off = b * 16
      s"""lut$b AS MATERIALIZED (
         |  SELECT q.qid, c.code,
         |    ${l2sub(s"q.embedding[${off + 1}:${off + 16}]", "c.c")} AS ld
         |  FROM q CROSS JOIN sP${b}_2 c)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (0 until 4).map(b =>
      s"JOIN eP$b cb$b ON cb$b.vec_id = cand.cand " +
        s"JOIN lut$b l$b ON l$b.qid = cand.qid AND l$b.code = cb$b.code")
      .mkString("\n  ")
    s"""WITH ${sqlPqCtes(1, 64, 8, 2, "C")},
       |${sqlPqCtes(4, 16, 8, 2, "P")},
       |q AS MATERIALIZED (
       |  SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 10),
       |probes AS MATERIALIZED (
       |  SELECT q.qid, c.code AS list
       |  FROM q CROSS JOIN sC0_2 c
       |  QUALIFY row_number() OVER (PARTITION BY q.qid
       |    ORDER BY ${l2full("q.embedding", "c.c")}, c.code) <= 2),
       |$luts,
       |cand AS MATERIALIZED (
       |  SELECT p.qid, e.vec_id AS cand
       |  FROM probes p JOIN eC0 e ON e.code = p.list
       |  WHERE e.vec_id <> p.qid),
       |adc AS MATERIALIZED (
       |  SELECT cand.qid, cand.cand,
       |    round(l0.ld + l1.ld + l2.ld + l3.ld, 6) AS adc
       |  FROM cand
       |  $codeJoins),
       |ranked AS (
       |  SELECT qid, cand, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc, cand) AS rk
       |  FROM adc QUALIFY rk <= 5),
       |exact AS (
       |  SELECT q.qid, p.vec_id AS cand
       |  FROM q CROSS JOIN embeddings p
       |  WHERE p.vec_id <> q.qid
       |  QUALIFY row_number() OVER (PARTITION BY q.qid
       |    ORDER BY round(${l2full("q.embedding", "p.embedding")}, 6),
       |      p.vec_id) <= 5)
       |SELECT r.qid AS query_id, CAST(r.rk AS INT) AS rank,
       |  r.cand AS vec_id, r.adc,
       |  (e.cand IS NOT NULL) AS in_exact_topk
       |FROM ranked r
       |LEFT JOIN exact e ON e.qid = r.qid AND e.cand = r.cand""".stripMargin
  }

  /** PQ-bucket semantic dedup report (the SemDeDup shape, Abbas et al.
    * 2023, by way of FAISS-style code bucketing): vectors sharing ALL
    * m PQ codes are near-duplicate CANDIDATES — the code tuple is a
    * learned, data-adaptive LSH key — and each candidate pair is
    * verified with exact cosine, so precision is 1 by construction
    * (the q34/q191 candidates-then-verify discipline transplanted to
    * embedding space). The declared relation is the per-bucket audit:
    * member count, candidate pairs, verified duplicate pairs at the
    * threshold, and the mean verified cosine — what a curation run
    * reads to size its semantic-dedup win before deleting anything.
    *
    * Scale shape: bucketing is the q268 PQ encode (linear); the
    * self-join keys on the full m-code tuple, so pair cost is
    * Σ_bucket k² — the quantizer's granularity (m·log₂ks bits) is the
    * hot-key control, exactly how billion-scale semantic dedup bounds
    * its candidate sets. No all-pairs relation at any point.
    *
    * @return per bucket with ≥ 2 members: code_0..code_{m−1},
    *         n_members, n_pairs, n_dups (cos ≥ threshold), avg_cos
    */
  def pqBucketDedup(points: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, ks: Int, iterations: Int,
      threshold: Double): DataFrame =
    pqBucketDedupFrom(points, idCol, vecCol, m, threshold,
      productQuantize(points, idCol, vecCol, m, subDim, ks, iterations))

  /** [[pqBucketDedup]]'s audit half over an already-encoded code
    * relation (idCol, code_0..code_{m−1}, ...).
    */
  private def pqBucketDedupFrom(points: DataFrame, idCol: String,
      vecCol: String, m: Int, threshold: Double,
      codesIn: DataFrame): DataFrame = {
    val codeCols = (0 until m).map(b => s"code_$b")
    val codes = codesIn
      .select((col(idCol) +: codeCols.map(col)): _*)
    val withVec = codes
      .join(points.select(col(idCol), col(vecCol)), Seq(idCol))
      .localCheckpoint()
    val left = withVec.select((col(idCol).as("__a") +:
      col(vecCol).as("__ea") +: codeCols.map(col)): _*)
    val right = withVec.select((col(idCol).as("__b") +:
      col(vecCol).as("__eb") +: codeCols.map(col)): _*)
    val pairs = left.join(right, codeCols)
      .where(col("__a") < col("__b"))
      .withColumn("__cos", round(GraftFunctions.cosineSimilarity(
        col("__ea"), col("__eb")), 6))
    // n_members recovers EXACTLY from the complete within-bucket pair
    // count: p = k(k−1)/2 ⇒ 1+8p = (2k−1)², a perfect square whose
    // IEEE sqrt is exact — no second member-count aggregate + join
    pairs.groupBy(codeCols.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__cos") >= threshold, 1L).otherwise(0L)).as("n_dups"),
        round(avg(col("__cos")), 6).as("avg_cos"))
      .select((codeCols.map(col) :+
        ((lit(1.0) + sqrt(lit(1.0) + lit(8.0) * col("n_pairs"))) / 2.0)
          .cast("long").as("n_members") :+
        col("n_pairs") :+ col("n_dups") :+ col("avg_cos")): _*)
  }

  /** Declared q274: the PQ-bucket semantic-dedup audit at cosine ≥ 0.9
    * over the q268 codebook configuration. Training rides the
    * suite-shared [[sharedCodebooks]] build; the timed row is the
    * encode pass + the bucket self-join audit.
    */
  def q274PqDedup(spark: SparkSession, d: String): DataFrame = {
    val pts = Tables.embeddings(spark, d)
    pqBucketDedupFrom(pts, "vec_id", "embedding", m = 4, threshold = 0.9,
      pqCodesFrom(pts, "vec_id", "embedding", m = 4, subDim = 16,
        sharedCodebooks(spark, d).where(col("__block") < 4)))
  }

  val q274Sql: String = {
    val cos =
      """list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |         list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
        |     / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                              list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
        |        * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
        |                                list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))""".stripMargin
    s"""WITH ${sqlPqCtes(4, 16, 8, 2, "P")},
       |codes AS MATERIALIZED (
       |  SELECT e.vec_id, eP0.code AS c0, eP1.code AS c1,
       |    eP2.code AS c2, eP3.code AS c3, e.embedding
       |  FROM embeddings e
       |  JOIN eP0 ON eP0.vec_id = e.vec_id
       |  JOIN eP1 ON eP1.vec_id = e.vec_id
       |  JOIN eP2 ON eP2.vec_id = e.vec_id
       |  JOIN eP3 ON eP3.vec_id = e.vec_id),
       |pairs AS (
       |  SELECT a.c0, a.c1, a.c2, a.c3,
       |    round($cos, 6) AS cos
       |  FROM codes a JOIN codes b
       |    ON a.c0 = b.c0 AND a.c1 = b.c1 AND a.c2 = b.c2 AND a.c3 = b.c3
       |   AND a.vec_id < b.vec_id),
       |st AS (
       |  SELECT c0, c1, c2, c3,
       |    CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN cos >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dups,
       |    round(avg(cos), 6) AS avg_cos
       |  FROM pairs GROUP BY 1, 2, 3, 4)
       |SELECT c0 AS code_0, c1 AS code_1, c2 AS code_2, c3 AS code_3,
       |  CAST((1.0 + sqrt(1.0 + 8.0 * n_pairs)) / 2.0 AS BIGINT)
       |    AS n_members,
       |  n_pairs, n_dups, avg_cos
       |FROM st""".stripMargin
  }
}

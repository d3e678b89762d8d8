package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftSession.withConf
import graft.core.Tables

/** Distributed connected components — the last stage of a dedup
  * pipeline. The similarity joins ([[Dedup.jaccardSimilarityJoin]],
  * [[NearDup.minHashVerifiedPairs]]) emit PAIRS; collapsing a corpus
  * needs CLUSTERS: near-duplication is not transitive, but the keep-one
  * policy every production pipeline applies is "one representative per
  * connected component of the pair graph".
  *
  * Algorithm: min-label propagation with pointer jumping.  Each
  * iteration every node pulls the smallest label in its neighborhood
  * (one hash shuffle on the edge relation), then compresses paths by
  * re-reading the label OF its label (a self-join on the label
  * relation, which halves chain depth). Propagation alone needs
  * O(diameter) rounds; the compression step makes the combination
  * converge in O(log diameter) — a 200-node path closes in 7
  * iterations (spec-pinned), and real dup clusters (near-cliques of
  * copies) close in 2.
  *
  * Scale shape: state is one (node, comp) row per vertex — never
  * materialized on the driver; every step is a hash shuffle on node
  * id; each iteration ends in `localCheckpoint` so the loop's lineage
  * stays O(1) deep instead of replaying the whole history per action
  * (the same lineage trap the IVF build hit in round 2). Convergence
  * is decided by one count per iteration — a scalar action, not a
  * data-scale collect.
  */
object Components {

  /** Connected components of the undirected graph given by `edges`.
    *
    * @param edges  one row per edge; self-loops ignored, duplicates and
    *               orientation don't matter
    * @return (node, comp): every vertex that appears in an edge, with
    *         the minimum node id of its component as the label.
    *         Isolated vertices never appear in `edges` and so are not
    *         emitted — callers union them back (their component is
    *         themselves), as [[q69DedupClusters]] does.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 30): DataFrame = {
    // symmetrize once; this relation is re-joined every iteration, so
    // cut its lineage (at cluster scale: persist) up front
    val sym = symmetric(edges
        .select(col(srcCol).as("u"), col(dstCol).as("v"))
        .where(col("u") =!= col("v")), "u", "v")
      .distinct()
      .localCheckpoint()

    // initialization IS the first propagation: with labels(v) = v, the
    // first pull step degenerates to min over the direct neighborhood —
    // one aggregate straight off the edge relation, no label join. The
    // near-clique pair graphs dedup produces converge HERE, so the loop
    // usually runs once only to confirm (changed == 0); the node-init +
    // first-pull round trip this replaces was pure fixed cost.
    var labels = sym.groupBy(col("u").as("node"))
      .agg(min(col("v")).as("nbr_min"))
      .select(col("node"), least(col("node"), col("nbr_min")).as("comp"))
      .localCheckpoint()

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // pull: smallest label among neighbors (labels only decrease,
      // and only to values that are node ids, so comp is always a
      // valid key into the label relation)
      val nbrMin = sym
        .join(labels.select(col("node").as("v"), col("comp")), Seq("v"))
        .groupBy(col("u")).agg(min(col("comp")).as("nbr_comp"))
      // the previous label rides along as `old`, so convergence needs
      // no extra join against the prior state
      val prop = labels
        .join(nbrMin.select(col("u").as("node"), col("nbr_comp")), Seq("node"), "left")
        .select(col("node"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // compress: comp := comp(comp). comp(c) ≤ c always (c's own row
      // started at c and only decreases), so `least` is belt-and-braces
      val jumped = prop
        .join(prop.select(col("node").as("comp"), col("comp").as("comp2")),
          Seq("comp"), "left")
        .select(col("node"), col("old"),
          least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp"))
        .localCheckpoint()
      val changed = jumped.where(col("comp") =!= col("old")).count()
      labels = jumped.select(col("node"), col("comp"))
      converged = changed == 0
      iter += 1
    }
    // with pointer jumping, `maxIter` covers diameters ~2^maxIter; not
    // converging means something is deeply wrong — wrong labels would
    // silently merge or split dedup clusters, so fail instead
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations")
    labels
  }

  /** Declared q69: the full dedup-cluster assignment for the corpus.
    * Exact Jaccard pairs at 0.6 (the q34 join) → connected components →
    * every document labeled with its cluster representative (minimum
    * doc_id in the component; singletons are their own cluster) and a
    * keep flag a downstream filter applies.
    */
  def q69DedupClusters(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val pairs = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", threshold = 0.6)
    val cc = connectedComponents(pairs, "doc_a", "doc_b")
    docs.select(col("doc_id"))
      .join(cc.select(col("node").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /** PageRank over an undirected graph — the host-centrality signal
    * web-corpus curation uses (rank domains by their interaction
    * structure; CommonCrawl-style host ranking). Symmetrized edges
    * mean every node has out-degree ≥ 1, so there is no dangling-mass
    * term and one iteration is exactly:
    *
    *   rank'(v) = (1−d)/N + d · Σ_{u∈N(v)} rank(u)/deg(u)
    *
    * It is [[trustRank]] with the teleport spread uniformly over all N
    * nodes; both run [[powerIteration]].
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 8,
      damping: Double = 0.85): DataFrame =
    powerIteration(edges, srcCol, dstCol, None, iterations, damping, "rank")

  /** Declared q81: centrality of the customer↔supplier interaction
    * graph (high-value orders only), suppliers offset into a disjoint
    * id space. Full oracle: DuckDB runs the identical 8 truncated
    * power iterations as chained CTEs — float divergence is far below
    * the compare's 1e-6 rounding.
    */
  def q81PageRank(spark: SparkSession, d: String): DataFrame =
    pageRank(counterpartyEdges(spark, d).distinct(), "src", "dst", iterations = 8)

  /** The customer→supplier counterparty graph of high-value orders
    * (`o_totalprice > 150000`): one (src = customer, dst = supplier)
    * row per line item, suppliers offset by 10⁶ into an id space
    * disjoint from customers. Not deduplicated; callers that need a
    * set distinct it themselves.
    */
  private def counterpartyEdges(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d)
      .where(col("o_totalprice") > 150000)
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_suppkey"))
    o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(1000000L)).as("dst"))
  }

  val q81Sql: String = {
    val base =
      """WITH edges0 AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_totalprice > 150000),
        |edges AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
        |pr0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM deg)""".stripMargin
    val iters = (1 to 8).map { i =>
      s"""pr$i AS (
         |  SELECT e.dst AS node,
         |    CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) +
         |      CAST(0.85 AS DOUBLE) * sum(p.rank / d.deg) AS rank
         |  FROM edges e
         |  JOIN pr${i - 1} p ON p.node = e.src
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iters\nSELECT node, rank FROM pr8"
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): biased
    * PageRank whose teleport mass goes ONLY to a trusted seed set, so
    * scores measure "how reachable from trust" — the classic
    * quality-propagation signal for web-corpus curation (seed trusted
    * domains, damp trust through the link graph, downweight pages no
    * trust flows to):
    *
    *   trust'(v) = (1−d) · tp(v) + d · Σ_{u∈N(v)} trust(u)/deg(u)
    *
    * with tp(v) = 1/|seeds| on a seed and 0 elsewhere, the start
    * vector too. Runs [[powerIteration]].
    */
  def trustRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iterations: Int = 8,
      damping: Double = 0.85): DataFrame =
    powerIteration(edges, srcCol, dstCol, Some(seeds), iterations, damping,
      "trust")

  /** The truncated power iteration of [[pageRank]] (`seeds` = None: the
    * uniform teleport (1−d)/N, a literal, and the start vector 1/N) and
    * [[trustRank]] (the teleport (1−d)·tp(v), one row per node,
    * checkpointed once and joined each iteration). Returns (node,
    * `score`).
    *
    * Scale shape: the (edge ⋈ degree) relation is built once,
    * HASH-PARTITIONED ON `src`, and localCheckpointed — the
    * checkpointed partitioning survives in the plan, so every
    * iteration's join reuses it and only the node-sized score relation
    * (itself partitioned on `node` by the previous iteration's
    * groupBy) moves; the single edge-cardinality shuffle left per
    * iteration is the grouped sum on `dst`, which is inherent to
    * power iteration. State is one row per node. Fixed iteration count
    * keeps the engine and the oracle bit-comparable (both compute the
    * SAME truncated power iteration).
    *
    * Measured strategy select (the q98 BFS lesson): the score relation
    * is node-sized and COUNTED, so when it fits [[BcastSymRows]] the
    * per-iteration joins carry explicit broadcast hints and AQE is off
    * for the loop — the edge relation then never shuffles (only the
    * inherent grouped sum on dst does), and each iteration stops paying
    * an AQE stage-job per exchange. Past the bound: no hint, AQE on —
    * the 100 TB path.
    */
  private def powerIteration(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: Option[DataFrame], iterations: Int,
      damping: Double, score: String): DataFrame = {
    val sym = symmetric(edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .where(col("src") =!= col("dst")), "src", "dst")
      .distinct()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val symDeg = sym.join(deg, Seq("src"))
      .repartition(col("src"))
      .localCheckpoint()
    val nodes = symDeg.select(col("src").as("node")).distinct()
    val (start, n, teleport) = seeds match {
      case None =>
        val n = nodes.count()
        (nodes.select(col("node"), (lit(1.0) / n).as(score)).localCheckpoint(),
          n, None)
      case Some(s) =>
        val seedSet = s.select(col("node")).distinct()
        val ns = seedSet.count()
        require(ns > 0, "trustRank needs at least one seed")
        val tp = nodes
          .join(seedSet.withColumn("__s", lit(true)), Seq("node"), "left")
          .select(col("node"),
            when(col("__s"), lit(1.0 / ns)).otherwise(lit(0.0)).as("tp"))
          .localCheckpoint()
        (tp.select(col("node"), col("tp").as(score)), tp.count(), Some(tp))
    }
    val hint = n <= BcastSymRows
    def hinted(df: DataFrame): DataFrame = if (hint) broadcast(df) else df
    var ranks = start
    withConf(edges.sparkSession, if (hint) AqeOff else Map.empty) {
      (1 to iterations).foreach { _ =>
        val in = symDeg
          .join(hinted(ranks.select(col("node").as("src"), col(score))), Seq("src"))
          .groupBy(col("dst"))
          .agg(sum(col(score) / col("deg")).as("in"))
          .select(col("dst").as("node"), col("in"))
        val next = teleport match {
          case None => in.select(col("node"),
            (lit(1 - damping) / n + lit(damping) * col("in")).as(score))
          case Some(tp) => in.join(hinted(tp), Seq("node")).select(col("node"),
            (lit(1 - damping) * col("tp") + lit(damping) * col("in")).as(score))
        }
        // LAZY checkpoint every iteration: no scheduled job of its own —
        // iteration i materializes exactly once, inside iteration i+1's
        // broadcast build (or the caller's action) — while keeping the
        // loop's lineage O(1)
        ranks = next.localCheckpoint(false)
      }
    }
    ranks
  }

  /** Declared q104: trust propagation from the q98 seed customers over
    * the q81 interaction graph — 8 biased power iterations. Oracle:
    * the identical truncated iteration as chained CTEs (the q81
    * pattern, teleport restricted to seeds).
    */
  def q104TrustRank(spark: SparkSession, d: String): DataFrame = {
    val edges = counterpartyEdges(spark, d).distinct()
    val seeds = edges.select(col("src").as("node")).where(col("node") < 50)
    trustRank(edges, "src", "dst", seeds, iterations = 8)
  }

  val q104Sql: String = {
    val base =
      """WITH edges0 AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_totalprice > 150000),
        |edges AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM nodes WHERE node < 50),
        |tp AS (SELECT node,
        |  CASE WHEN node < 50 THEN CAST(1.0 AS DOUBLE) / (SELECT ns FROM ns)
        |       ELSE CAST(0.0 AS DOUBLE) END AS tp FROM nodes),
        |tr0 AS (SELECT node, tp AS trust FROM tp)""".stripMargin
    val iters = (1 to 8).map { i =>
      s"""tr$i AS (
         |  SELECT e.dst AS node,
         |    CAST(0.15 AS DOUBLE) * max(t.tp) +
         |      CAST(0.85 AS DOUBLE) * sum(p.trust / d.deg) AS trust
         |  FROM edges e
         |  JOIN tr${i - 1} p ON p.node = e.src
         |  JOIN deg d ON d.src = e.src
         |  JOIN tp t ON t.node = e.dst
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iters\nSELECT node, trust FROM tr8"
  }

  /** Minimum-hop distance from a seed set via frontier BFS — the
    * "link distance from trusted seeds" signal web-corpus curation
    * uses for seed-based crawl scoping / quality propagation. Each hop
    * is one hash join of the CURRENT FRONTIER (exactly the nodes at
    * distance h−1, usually far smaller than the graph) against the
    * symmetrized edge relation plus one anti-join against the visited
    * set; the edge relation is built once, hash-partitioned on `src`,
    * and localCheckpointed, so every hop reuses its partitioning and
    * shuffles only frontier-sized data. Visited state is one row per
    * reached node with O(1) lineage (checkpoint per hop). The loop
    * exits on the first empty frontier (a driver-side scalar) or at
    * `maxHops` — the bounded-depth form keeps the oracle an equivalent
    * fixed-depth recursion.
    */
  def bfsHops(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      maxHops: Int): DataFrame = {
    // symmetrize WITHOUT deduplication: BFS is edge-multiplicity-
    // insensitive (every hop distincts its frontier nodes), so the two
    // dedup shuffles pageRank needs for degrees are pure cost here.
    // Only the DIRECTED half is materialized (the checkpoint that caps
    // the caller's lineage); the symmetrizing explode is a codegen
    // view over the cache, re-run per hop for half the cache footprint
    val dir = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint(false)
    // one job materializes the lazy checkpoint AND yields the scalar
    // the strategy select below needs
    val symRows = 2L * dir.count()
    val sym = symmetric(dir, "src", "dst")
    val smallGraph = symRows <= 20000000L
    // only the shuffle-join path benefits from pre-partitioning the
    // edge relation on src (each hop's join then reuses it); the
    // small-graph path streams sym through broadcast joins, where that
    // exchange would be pure cost
    val symJoin =
      if (smallGraph) sym
      else sym.repartition(col("src")).localCheckpoint()
    val seed = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0).as("hops"))
      .localCheckpoint(false)
    // undirected invariant (edges are symmetrized above): a neighbor of
    // a distance-(h−1) node sits at distance h−2, h−1, or h, so the
    // dedup anti-join needs only the LAST TWO frontiers — the full
    // visited set is never re-materialized per hop, just unioned once
    // at the end from the per-hop checkpoints.
    var acc = List(seed)
    var frontier = seed.select(col("node"))
    var frontierRows = 0L
    var prevFrontier = frontier.limit(0)
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      // measured strategy select (the triangleCounts broadcast-bound
      // pattern): when the edge relation fits an executor and the
      // frontier (row count KNOWN from the previous hop's action) is
      // small, the frontier sides carry explicit broadcast hints and
      // AQE is off for the hop — every hinted relation is a cached
      // checkpoint, so the broadcast builds are kilobyte collects and
      // the hop costs ~one scheduled job instead of an AQE stage-job
      // per exchange (driver round trips, not data, dominate
      // small-scale BFS). Past either bound: no hints, AQE on, shuffle
      // joins against the src-partitioned checkpoint — the 100 TB path.
      val hint = smallGraph && frontierRows <= (4L << 20)
      // on the hinted path the only exchange left is the frontier
      // distinct, over at most `frontierRows` kilobyte-scale rows
      withConf(edges.sparkSession,
          if (hint) AqeOff + ("spark.sql.shuffle.partitions" -> "1")
          else Map.empty) {
        val fr = if (hint) broadcast(frontier) else frontier
        val visited = frontier.unionByName(prevFrontier)
        val vis = if (hint) broadcast(visited) else visited
        // LAZY checkpoint + one count: a single scheduled action both
        // materializes the hop and decides termination — the
        // eager-checkpoint-then-isEmpty shape paid two driver round
        // trips per hop
        val next = fr.join(symJoin, fr("node") === symJoin("src"))
          .select(col("dst").as("node")).distinct()
          .join(vis, Seq("node"), "left_anti")
          .select(col("node"), lit(hop).as("hops"))
          .localCheckpoint(false)
        val n = next.count()
        if (n == 0) done = true
        else {
          acc = next :: acc
          prevFrontier = frontier
          frontier = next.select(col("node"))
          frontierRows = n
          hop += 1
        }
      }
    }
    acc.reduce(_ unionByName _)
  }

  /** Declared q98: hop distance from the low-key seed customers over
    * the q81 interaction graph (customers ↔ suppliers offset into a
    * disjoint id space, high-value orders only), bounded at 6 hops.
    * Oracle: bounded recursive closure + min() per node — any
    * frontier, dedup, or termination divergence between the engine's
    * BFS and true minimum hop counts is a hash mismatch on real
    * distances.
    */
  def q98BfsReach(spark: SparkSession, d: String): DataFrame = {
    // no caller-side distinct: bfsHops is multiplicity-insensitive, so
    // deduplicating ~600k join rows here would be a pure extra shuffle
    val edges = counterpartyEdges(spark, d)
    val seeds = edges.select(col("src").as("node"))
      .where(col("node") < 50)
    bfsHops(edges, "src", "dst", seeds, maxHops = 6)
      .select(col("node"), col("hops").cast("int").as("hops"))
  }

  val q98Sql: String =
    """WITH RECURSIVE edges0 AS (
      |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE o_totalprice > 150000),
      |edges AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
      |seeds AS (SELECT DISTINCT src AS node FROM edges0 WHERE src < 50),
      |reach(node, d) AS (
      |  SELECT node, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.node
      |  WHERE r.d < 6)
      |SELECT node, CAST(min(d) AS INT) AS hops FROM reach GROUP BY node""".stripMargin

  /** Declared q72: SEMANTIC dedup clusters — the SemDeDup shape.
    * Hyperplane-LSH embedding pairs at cosine ≥ 0.95 (exact-verified
    * candidates, [[NearDup.embeddingPairs]]) → connected components →
    * cluster label for EVERY corpus vector (singletons label
    * themselves). The oracle replays the full structure: exact
    * all-pairs cosine + recursive transitive closure in DuckDB, so any
    * bucketing, verification, or clustering divergence is a hash
    * mismatch on real labels (not a planted-twin boolean). The five
    * planted twins stay in as the recall canary — exact copies bucket
    * identically in every LSH table, and the fixture's max non-twin
    * cosine is ~0.6 (verified at sf0.01/sf0.1), so the ≥0.95 pair set
    * is exactly the twins on both sides with no threshold boundary
    * risk.
    */
  def q72SemanticClusters(spark: SparkSession, d: String): DataFrame = {
    val e = graft.core.Tables.embeddings(spark, d)
    val base = e.select(col("vec_id"), col("embedding"))
    val corpus = base.unionByName(Similarity.twinQueries(e))
    val pairs = NearDup.embeddingPairs(corpus, "vec_id", "embedding", 64,
      threshold = 0.95)
    val cc = connectedComponents(pairs, "id_a", "id_b")
    corpus.select(col("vec_id"))
      .join(cc.select(col("node").as("vec_id"), col("comp")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("cluster_id"))
  }

  val q72Sql: String =
    """WITH RECURSIVE corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x AS DOUBLE))
      |  FROM embeddings WHERE vec_id BETWEEN 5 AND 9),
      |pairs AS (
      |  SELECT a.vec_id AS u, b.vec_id AS v
      |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.e, b.e) >= 0.95),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u WHERE e2.v <> r.u),
      |comp AS (SELECT u AS vec_id, least(u, min(v)) AS cluster FROM reach GROUP BY u)
      |SELECT c.vec_id, coalesce(comp.cluster, c.vec_id) AS cluster_id
      |FROM corpus c LEFT JOIN comp USING (vec_id)""".stripMargin

  /** Declared q87: leakage-free split over the q69 dedup clusters —
    * every member of a near-dup cluster draws the SAME train/val/test
    * assignment (the split hash reads the cluster label, not the doc
    * id), so no test document has a near-copy in train.
    */
  def q87ClusterSplit(spark: SparkSession, d: String): DataFrame =
    CorpusOps.clusterSplit(
      q69DedupClusters(spark, d).select(col("doc_id"), col("cluster_id")),
      "cluster_id")

  val q87Sql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
      |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u)
      |SELECT doc_id, cluster_id,
      |  CASE WHEN un < 0.8 THEN 'train'
      |       WHEN un < 0.9 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (
      |  SELECT d.doc_id,
      |    coalesce(c.cluster, d.doc_id) AS cluster_id,
      |    ('0x' || substring(md5('split' || '|' ||
      |      CAST(coalesce(c.cluster, d.doc_id) AS VARCHAR)), 1, 15))::BIGINT
      |      / 1152921504606846976.0 AS un
      |  FROM documents d LEFT JOIN comp c USING (doc_id))""".stripMargin

  /** Oracle: same pairs (q34's SQL shape), components via recursive
    * transitive closure — fine at oracle scale (tens of edges), which
    * is exactly why the engine side is the iterated min-propagation
    * instead.
    */
  val q69Sql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
      |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u)
      |SELECT d.doc_id,
      |  coalesce(c.cluster, d.doc_id) AS cluster_id,
      |  d.doc_id = coalesce(c.cluster, d.doc_id) AS keep
      |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin

  /** Per-node triangle counts of an undirected graph — the clustering
    * / community-density signal (local clustering coefficient's
    * numerator, spam-farm detection, graph health checks).
    *
    * @return (node, n_tri) for every node in at least one triangle;
    *         node keeps the input id type, n_tri is long
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    trianglesFromCanon(canonicalEdges(edges, srcCol, dstCol))

  /** [[triangleCounts]] over [[canonicalEdges]]. Two routes, row-identical
    * (spec-pinned against each other and a local oracle); the bounded
    * CSR collect is the only probe, and the fallback runs unchanged
    * after it:
    *
    *   1. KERNEL ([[triangleCensus]]) — integral ids and 2|E| ≤
    *      `maxSymRows`: the broadcast [[AdjacencyCsr]] and one
    *      `mapPartitions` over row ranges. Nothing is shuffled and no
    *      wedge exists outside a task; the work is
    *      Σ_{(x,y) ∈ E} min(deg y, deg x · ⌈log₂ deg y⌉) =
    *      O(m^1.5 log m) even on a star hub
    *      ([[AdjacencyCsr.common]]).
    *   2. FALLBACK — past the bound or for non-integral ids: one row per
    *      triangle from [[triangleList]], exploded to its three corners
    *      into a hash aggregate.
    *
    * @param maxSymRows the kernel bound on 2|E|; a negative one forces
    *                   the fallback even on an empty graph
    */
  private[operators] def trianglesFromCanon(canon: DataFrame,
      maxSymRows: Long = BcastSymRows): DataFrame =
    AdjacencyCsr.collect(canon, maxSymRows) match {
      case Some(csr) => triangleCensus(canon, csr)
        .where(col("n_tri") > 0).select(col("node"), col("n_tri"))
      case None => cornerCounts(triangleList(canon, "u", "v"))
    }

  /** (node, n_tri) from one row per triangle (a, b, c): each triangle
    * counts once at each of its corners.
    */
  private def cornerCounts(tri: DataFrame): DataFrame =
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))

  /** The kernel route of [[triangleCounts]] and
    * [[localClusteringCoefficient]]: (node, deg, n_tri) for every node
    * of degree ≥ 2, over the broadcast CSR — row ranges balanced by
    * [[AdjacencyCsr.intersectWork]].
    */
  private def triangleCensus(canon: DataFrame, csr: AdjacencyCsr): DataFrame =
    csrFrame(canon, Seq("node", "deg", "n_tri"), ids = Set("node"))(
      csrRows(canon, csr, csr.intersectWork(above = false))(
        (g, lo, hi) => g.census(lo, hi)))

  /** Out-degree gate for the id-ordered map-side wedge path: a node
    * whose greater-id neighbor array has ≤ 2¹² elements generates at
    * most 16M wedge rows from its one adjacency row — one codegen
    * explode pipeline, ~0.2 s — while anything larger risks the
    * Θ(Σ deg²) hub blow-up only the degree-ordered orientation bounds.
    */
  private val IdOrderOutDegreeBound = 1 << 12

  /** Triangle ENUMERATION — one row per triangle {a,b,c}, a the
    * orientation-minimum corner: the shuffle plan behind the fallback
    * route of [[triangleCounts]], [[localClusteringCoefficient]] and
    * [[ktruss]], which reach it only past the kernel bound or for
    * non-integral ids. No driver state, no all-pairs. Invariants:
    *
    *   - ONE adjacency relation: one exchange groups each node's
    *     greater-id neighbors into a set array (collect_set dedups as it
    *     groups, so callers need no upstream distinct); one aggregate
    *     over it probes the edge count, the max out-degree and the id
    *     range.
    *   - ID-ORDERED map-side wedges when the measured max out-degree is
    *     ≤ [[IdOrderOutDegreeBound]]: wedges explode straight from the
    *     arrays, no wedge join. Σ outdeg² is unbounded under skew (a
    *     10M-neighbor hub would emit 10¹⁴ wedges from one row), hence
    *     the gate.
    *   - DEGREE-ORDERED join path past the gate (Chiba–Nishizeki /
    *     Schank's forward algorithm): each edge is oriented from its
    *     (deg, id)-smaller endpoint, which bounds every out-degree by
    *     O(√m), so the wedge relation is O(m^1.5) worst-case. The wedge
    *     self-join reads both sides co-partitioned from a
    *     repartition(src) checkpoint.
    *   - Both orientations enumerate the SAME triangle set (each
    *     triangle once, as its order-minimum corner's wedge), emitted
    *     with (b, c) id-canonical, so the gate changes the intermediate,
    *     never the result.
    *   - ONE closing probe: when every id fits 32 bits, (b, c) packs
    *     into one long (a LongHashedRelation probe); the edge side is
    *     broadcast up to 2·10⁷ edges and shuffled past that.
    *   - The adjacency build needs the hottest hub's set to fit one JVM
    *     array (fine through ~10⁷–10⁸ neighbors). A graph with a hub
    *     past that must probe degrees from the edge relation and feed
    *     the degree-ordered branch directly.
    */
  def triangleList(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // canonical undirected edges {lo, hi}, self-loops dropped — a no-op
    // projection on canonical input. No distinct: the adjacency
    // collect_set dedups as it groups.
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v"))
    // ONE exchange builds the id-ordered out-adjacency: dedup, group,
    // and colocate each node's greater-id neighbors. Checkpointed —
    // consumed by the stats probe, the wedge source, the closing side,
    // and (on the skew path) the degree rebuild.
    val adj = canon.groupBy(col("u"))
      .agg(collect_set(col("v")).as("vs"))
      .localCheckpoint()
    val stats = adj.agg(
        sum(size(col("vs"))).cast("long").as("m"),
        max(size(col("vs"))).cast("int").as("dmax"),
        max(greatest(col("u"), array_max(col("vs")))).cast("long").as("mx"),
        min(least(col("u"), array_min(col("vs")))).cast("long").as("mn"))
      .collect().head
    if (stats.isNullAt(0))
      return adj.select(col("u").as("a"), col("u").as("b"), col("u").as("c"))
        .where(lit(false))
    val nEdges = stats.getLong(0)
    val packable =
      stats.getLong(2) < Int.MaxValue.toLong && stats.getLong(3) >= 0L
    // cast BEFORE shifting: on IntegerType ids Spark masks the shift
    // distance to the operand width, so an un-cast `x << 32` is a no-op
    // and the key would collapse to `b|c` — false-positive triangles.
    // The packable guard (ids < 2³¹) can't catch that; the cast makes
    // the packed key sound for every integral id type.
    val key: (Column, Column) => Column =
      if (packable)
        (x, y) => shiftleft(x.cast("long"), 32).bitwiseOR(y.cast("long"))
      else (x, y) => struct(x, y)
    // wedges (a; b, c): b, c both out-neighbors of a, b before c in
    // the branch's orientation order. Emitted id-canonical (b < c) on
    // BOTH branches so one closing probe shape serves both.
    val wedges =
      if (stats.getInt(1) <= IdOrderOutDegreeBound)
        adj
          .select(col("u").as("a"), explode(col("vs")).as("b"), col("vs"))
          .select(col("a"), col("b"), explode(col("vs")).as("c"))
          .where(col("b") < col("c"))
      else {
        val pairs = adj.select(col("u"), explode(col("vs")).as("v"))
        val deg = pairs.select(col("u").as("node"))
          .unionAll(pairs.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        // orient from (deg, id)-smaller to larger; carry the head's
        // degree so the wedge join orders its legs without re-joining
        val oriented = pairs
          .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
          .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
          .select(
            when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")),
              struct(col("u").as("src"), col("v").as("dst"),
                col("dv").as("ddst")))
              .otherwise(struct(col("v").as("src"), col("u").as("dst"),
                col("du").as("ddst"))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"),
            col("e.ddst").as("ddst"))
          .repartition(col("src"))
          .localCheckpoint()
        val left = oriented
          .select(col("src"), col("dst").as("b"), col("ddst").as("db"))
        val right = oriented
          .select(col("src"), col("dst").as("c"), col("ddst").as("dc"))
        left.join(right, Seq("src"))
          .where(col("db") < col("dc") ||
            (col("db") === col("dc") && col("b") < col("c")))
          .select(col("src").as("a"),
            least(col("b"), col("c")).as("b"),
            greatest(col("b"), col("c")).as("c"))
      }
    val closing = adj.select(col("u"), explode(col("vs")).as("v"))
      .select(key(col("u"), col("v")).as("bc"))
    val closingSide = if (nEdges <= 20000000L) broadcast(closing) else closing
    wedges
      .join(closingSide, key(col("b"), col("c")) === col("bc"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Declared q107: per-node triangle counts of the part co-purchase
    * graph — parts are adjacent when some order contains both
    * (co-occurrence bounded per order by TPC-H's ≤7 lineitems, so the
    * edge build is linear in lineitem count at any scale).
    */
  def q107Triangles(spark: SparkSession, d: String): DataFrame =
    triangleCounts(coPurchaseEdges(Tables.lineitem(spark, d)), "u", "v")

  /** The part co-purchase graph of `lineitem` rows: (u, v) with u < v
    * for every two parts some order contains, one row per order that
    * has both — not deduplicated; callers that need a set distinct it
    * themselves (the common-neighbour operators' [[canonicalEdges]]
    * does).
    *
    * Pairs WITHOUT a self-join: one shuffle groups each order's parts
    * into an array (≤7 elements), the pairs explode map-side. Double
    * codegen explode + where, NOT a higher-order `filter` lambda inside
    * the second explode: interpreted lambdas cost ~7x per element (the
    * q76/q116 lesson), and with k ≤ 7 parts per order the k²
    * generated-then-filtered rows are cheaper than k(k−1)/2
    * interpreted ones.
    */
  private def coPurchaseEdges(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(collect_set(col("pk")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .where(col("u") < col("v"))

  val q107Sql: String =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |t AS (
      |  SELECT e1.a, e1.b, e2.b AS c
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |n AS (
      |  SELECT a AS node FROM t
      |  UNION ALL SELECT b FROM t
      |  UNION ALL SELECT c FROM t)
      |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
      |FROM n GROUP BY node""".stripMargin

  /** HITS hubs-and-authorities (Kleinberg, JACM 1999) on a DIRECTED
    * graph: authority(v) = Σ hub(u) over in-edges, hub(u) = Σ auth(v)
    * over out-edges, L1-normalized each half-step — the
    * endorsement-flow dual to [[pageRank]] (a good hub points at good
    * authorities; natural fit for bipartite buyer→supplier /
    * page→cited-source graphs where a single PageRank score conflates
    * the two roles).
    *
    * Scale shape: the edge relation builds once, hash-partitioned and
    * checkpointed; each half-step is one node-keyed join + grouped
    * sum. Measured strategy select (the q81/q104 discipline) on the
    * COUNTED hub relation: when the score relations fit an executor,
    * each iteration's two half-steps run as ONE eager static-plan job
    * (broadcast hints on the score sides, AQE scoped off for the loop
    * — see the inline note on the measured child-session alternative),
    * where the r6 variant scheduled a lazy checkpoint per HALF-step
    * whose deferred execution escaped its AQE override entirely.
    * Measured at sf0.1: 3.7 s (r6) → 2.9 s. Past the broadcast bound:
    * shuffle joins with per-iteration lazy checkpoints (O(1)
    * lineage), AQE left on — the 100 TB path.
    *
    * The L1 scale is DEFERRED to one final broadcast-normalized
    * projection per role: raw power-iteration magnitudes grow like
    * d̄^(2·iterations), which doubles never overflow and whose relative
    * precision is constant, so per-step normalization would buy
    * nothing but 2×iterations extra jobs. Fixed iteration count keeps
    * engine and oracle bit-comparable.
    *
    * @return one row per node that holds score mass: (role, node,
    *         score) with role ∈ {hub, authority}, each role L1-normalized
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"hits: iterations must be >= 1, got $iterations")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint()
    var h = e.select(col("src")).distinct().withColumn("h", lit(1.0))
      .localCheckpoint()
    val hint = h.count() <= BcastSymRows
    // guard the denominator: an all-null/zero score mass (possible only
    // on degenerate inputs) yields null scores, not ±Infinity
    def l1(df: DataFrame, c: String): DataFrame =
      df.crossJoin(broadcast(df.agg(sum(col(c)).as("__t"))))
        .select(df.columns.filter(_ != c).map(col) :+
          (col(c) / when(col("__t") =!= 0.0, col("__t"))).as(c): _*)
    // Scoped AQE override for the broadcast loop. A per-query override
    // was measured via a cloned CHILD session (GraftSqlBridge.cloneSession
    // + plan rebind — no session-global mutation): it costs a consistent
    // +0.7 s per invocation (fresh SessionState) vs 2.86 s for the
    // in-session flip at sf0.1, so the flip stays.
    var a: DataFrame = null
    withConf(edges.sparkSession, if (hint) AqeOff else Map.empty) {
      for (i <- 1 to iterations) {
        a = e.join(if (hint) broadcast(h) else h, Seq("src"))
          .groupBy(col("dst")).agg(sum(col("h")).as("a"))
        // EAGER checkpoints on the broadcast path: each iteration's two
        // half-steps materialize as one static-plan job while the AQE
        // override is in force (lazy checkpoints would defer execution
        // to the caller's consumption, escaping it — the r6 bug); the
        // shuffle path keeps lazy checkpoints for O(1) lineage
        if (i == iterations) a = a.localCheckpoint(eager = hint)
        h = e.join(if (hint) broadcast(a) else a, Seq("dst"))
          .groupBy(col("src")).agg(sum(col("a")).as("h"))
        // checkpoint every FOURTH iteration (and the last): four full
        // iterations chain into one static-plan job on the broadcast
        // path (the intermediate broadcast exchanges execute inside it),
        // trimming job-scheduling overhead — measured 4.6 -> 4.0 s at
        // sf0.1. Deeper chaining was flat; the co-partitioned
        // shuffle-join alternative measured 3.9 s bare but 6.4 s with
        // the dst-copy checkpoint it needs at scale, so broadcast stays
        if (i % 4 == 0 || i == iterations)
          h = h.localCheckpoint(eager = hint)
      }
    }
    l1(h, "h").select(lit("hub").as("role"), col("src").as("node"),
        col("h").as("score"))
      .unionAll(l1(a, "a").select(lit("authority").as("role"),
        col("dst").as("node"), col("a").as("score")))
  }

  /** Declared q163: HITS over the directed customer→supplier
    * counterparty graph (q81's edges kept directed) — hubs are
    * broad-reach buyers, authorities widely-bought-from suppliers.
    */
  def q163Hits(spark: SparkSession, d: String): DataFrame =
    hits(counterpartyEdges(spark, d).distinct(), "src", "dst", iterations = 8)

  val q163Sql: String = {
    val base =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_totalprice > 150000),
        |h0 AS MATERIALIZED (
        |  SELECT DISTINCT src, CAST(1.0 AS DOUBLE) AS h FROM e)""".stripMargin
    val iters = (1 to 8).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT e.dst, sum(h.h) AS a
         |  FROM e JOIN h${i - 1} h ON h.src = e.src GROUP BY e.dst),
         |h$i AS MATERIALIZED (
         |  SELECT e.src, sum(a.a) AS h
         |  FROM e JOIN a$i a ON a.dst = e.dst GROUP BY e.src)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT 'hub' AS role, src AS node,
       |  h / (SELECT sum(h) FROM h8) AS score FROM h8
       |UNION ALL
       |SELECT 'authority' AS role, dst AS node,
       |  a / (SELECT sum(a) FROM a8) AS score FROM a8""".stripMargin
  }

  /** k-core decomposition membership: iteratively peel nodes of
    * degree < k until the subgraph induced on survivors is stable —
    * the classic dense-subgraph / spam-farm / community-nucleus
    * extractor (Seidman 1983). Returns each surviving node with its
    * within-core degree.
    *
    * Scale shape: per peel round, one hash aggregate for degrees and
    * two semi-join-shaped filters of the edge relation against the
    * surviving-node set — all keyed on node ids, no driver state
    * beyond a one-long removed-count used for early exit. The edge
    * relation is `localCheckpoint`ed every round, so lineage stays
    * O(1) across iterations (the [[connectedComponents]] discipline).
    * Peeling converges in few rounds on real graphs (the degeneracy
    * ordering collapses fast); `maxIterations` bounds the worst case
    * and — because a converged peel is a fixpoint — an early-exited
    * run is identical to one that executes all `maxIterations`
    * rounds, which is what keeps the bounded-unroll oracle exact.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIterations: Int = 12): DataFrame =
    kCorePeel(edges, srcCol, dstCol, k, maxIterations, BcastSymRows)

  /** [[kCore]] with the survivor-broadcast bound as a parameter: each
    * round broadcasts the survivor set while its counted size is at most
    * `maxSymRows`; a negative bound forces the shuffle semi-joins.
    */
  private[operators] def kCorePeel(edges: DataFrame, srcCol: String,
      dstCol: String, k: Int, maxIterations: Int, maxSymRows: Long): DataFrame = {
    val canon = canonicalEdges(edges, srcCol, dstCol, checkpoint = false)
    var sym = symmetric(canon, "u", "v").localCheckpoint()
    var keep = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= k)
      .localCheckpoint()
    // fixpoint via the surviving-node COUNT (one cheap driver long per
    // round, read off the checkpointed node relation): if a round
    // removes nobody, the induced subgraph — and every degree in it —
    // is already stable, so the peel is done without re-aggregating.
    var alive = keep.count()
    var done = alive == 0
    var it = 0
    while (!done && it < maxIterations) {
      // the survivor relation is node-sized and its count is already
      // measured every round (`alive`, the fixpoint test): broadcast it
      // under the counted bound. Without the hint both semi-joins plan
      // SMJ (checkpoint scans carry no stats) and exchange + sort the
      // edge-sized sym relation twice per round; with it the edge
      // relation never shuffles inside the loop. Past the bound the
      // shuffle plan returns.
      def hintK(df: DataFrame): DataFrame =
        if (alive <= maxSymRows) broadcast(df) else df
      val next = sym
        .join(hintK(keep.select(col("u"))), Seq("u"), "left_semi")
        .join(hintK(keep.select(col("u").as("v"))), Seq("v"), "left_semi")
        .localCheckpoint()
      val nextKeep = next.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .localCheckpoint()
      val nextAlive = nextKeep.count()
      sym = next
      keep = nextKeep
      done = nextAlive == alive || nextAlive == 0
      alive = nextAlive
      it += 1
    }
    keep.select(col("u").as("node"), col("deg").as("core_deg"))
  }

  /** Declared q153: the 80-core of the part co-occurrence graph (parts
    * ordered together) — q107's graph put through the peeler. k = 80
    * sits just under the graph's degeneracy (~85): the peel genuinely
    * cascades (5 rounds to fixpoint at both test scales, measured)
    * while leaving a non-trivial core. Oracle: identical bounded
    * unroll as chained CTEs (fixpoint makes extra rounds no-ops, so
    * the engine's early exit and the oracle's fixed unroll agree).
    * The CTEs are MATERIALIZED — each round references its
    * predecessor three times, and inlining would re-expand the chain
    * 3¹²-fold.
    */
  def q153KCore(spark: SparkSession, d: String): DataFrame =
    kCore(coPurchaseEdges(Tables.lineitem(spark, d)).distinct(), "u", "v",
      k = 80, maxIterations = 12)

  val q153Sql: String = {
    val base =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |s0 AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |d0 AS MATERIALIZED (SELECT u, count(*) AS deg FROM s0 GROUP BY u)""".stripMargin
    val iters = (1 to 12).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT s.u, s.v FROM s${i - 1} s
         |  JOIN d${i - 1} a ON a.u = s.u AND a.deg >= 80
         |  JOIN d${i - 1} b ON b.u = s.v AND b.deg >= 80),
         |d$i AS MATERIALIZED (SELECT u, count(*) AS deg FROM s$i GROUP BY u)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT u AS node, CAST(deg AS BIGINT) AS core_deg
       |FROM d12 WHERE deg >= 80""".stripMargin
  }

  /** Jaccard-coefficient link prediction (Liben-Nowell & Kleinberg,
    * CIKM 2003): for node pairs NOT currently adjacent, score
    * |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)| from shared neighbors and return the
    * top-`topN` candidate edges — recommendation / missing-link
    * mining over any co-occurrence graph.
    *
    * Scale shape: the common-neighbor counts are the Σ deg² wedge mass
    * of the graph — quadratic in the hottest hub's degree, whatever the
    * plan (see [[triangleCounts]] for why orientation can't help here:
    * both endpoints of an unordered candidate pair are needed, the
    * center is fixed). [[jaccardFromCanon]] picks the plan that pays
    * it; every route ends in a `TakeOrderedAndProject` — per-partition
    * top-N heaps, no full sort.
    */
  def jaccardLinkPrediction(edges: DataFrame, srcCol: String,
      dstCol: String, topN: Int = 50): DataFrame = {
    val canon = canonicalEdges(edges, srcCol, dstCol)
    jaccardFromCanon(canon, topN, AdjacencyCsr.collect(canon, BcastSymRows))
  }

  /** (u, v) with u < v, self-loops dropped, deduplicated: the one
    * canonical form of an undirected edge relation. Checkpointed by
    * default, so the CSR collect, the probes and the wedge plans all
    * read ONE materialization of the graph build; the checkpoint is
    * lazy — its first reader (the CSR collect) materializes it, so it
    * costs no job of its own. `checkpoint = false` leaves it
    * unmaterialized, for operators that read it once, into their own
    * checkpoint or join.
    */
  private[operators] def canonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String, checkpoint: Boolean = true): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    if (checkpoint) canon.localCheckpoint(eager = false) else canon
  }

  /** Both directions of every (a, b) row of `edges`, as (a, b) rows —
    * one explode per input row, so an unmaterialized input is computed
    * once, not once per direction. No distinct.
    */
  private def symmetric(edges: DataFrame, a: String, b: String): DataFrame =
    edges
      .select(explode(array(
        struct(col(a), col(b)),
        struct(col(b).as(a), col(a).as(b)))).as("e"))
      .select(col(s"e.$a").as(a), col(s"e.$b").as(b))

  /** Exact top-N Jaccard over an already-canonicalized, already-
    * checkpointed (u < v, distinct) edge relation. Two routes, both
    * exact and row-identical (spec-pinned against each other and a
    * local oracle on adversarial graphs):
    *
    *   1. KERNEL ([[jaccardCsr]]) — `csr` is present: integral ids and
    *      2|E| within the kernel bound, counted by one bounded collect
    *      (never a stats guess). The graph is a driver-built
    *      [[AdjacencyCsr]], broadcast once, and each task counts its
    *      rows' common neighbors in a sparse accumulator and keeps a
    *      local top-N. No pair relation exists outside a task; the only
    *      exchange carries ≤ topN rows per task into the global top-N.
    *      Under the bound this is the route whatever the adjacency
    *      structure.
    *   2. SHUFFLE ([[jaccardNodeLevel]]) — past the bound, or for
    *      non-integral ids: the distributed wedge self-join with a
    *      sorted pair count — the 100 TB shape.
    *
    * @param csr `canon`'s bounded [[AdjacencyCsr.collect]], taken by the
    *            caller so [[jaccardLinksAuto]]'s degree probe shares it
    */
  private[operators] def jaccardFromCanon(canon: DataFrame, topN: Int,
      csr: Option[AdjacencyCsr]): DataFrame = csr match {
    case Some(g) => jaccardCsr(canon, g, topN)
    case None =>
      val sym = symmetric(canon, "u", "v")
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      jaccardNodeLevel(canon, sym, deg, topN)
  }

  /** Compressed-sparse-row adjacency of a canonical edge set over dense
    * node indices: row i is node `ids(i)`, and its neighbors are the
    * ascending dense indices `nbrs(offsets(i) until offsets(i + 1))`.
    * `ids` is sorted, so dense order is id order.
    */
  private[operators] final class AdjacencyCsr(val ids: Array[Long],
      val offsets: Array[Int], val nbrs: Array[Int]) extends Serializable {

    def n: Int = ids.length

    def deg(u: Int): Int = offsets(u + 1) - offsets(u)

    def maxDegree: Long = {
      var m = 0
      for (u <- 0 until n) m = m max deg(u)
      m
    }

    /** Row boundaries of at most `parts` contiguous ranges holding equal
      * shares of `work`, which is evaluated once per row, in ascending
      * row order.
      */
    def ranges(parts: Int, work: Int => Long): Array[Int] = {
      val cost = Array.tabulate(n)(work)
      val total = cost.sum
      val cuts = scala.collection.mutable.ArrayBuilder.make[Int]
      cuts += 0
      var acc = 0L
      var next = 1
      var u = 0
      while (u < n) {
        acc += cost(u)
        if (next < parts && acc * parts >= total * next && u + 1 < n) {
          cuts += u + 1
          while (next < parts && acc * parts >= total * next) next += 1
        }
        u += 1
      }
      cuts += n
      cuts.result()
    }

    /** Per-row cost of [[topPairs]]: row u visits, for each neighbor w,
      * the x ∈ N(w) with x > u — deg(w) minus the rows ≤ u seen so far
      * in N(w), which one cursor per row tracks across the ascending
      * pass [[ranges]] makes.
      */
    def pairWork: Int => Long = {
      val cursor = new Array[Int](n)
      u => {
        var cost = deg(u).toLong
        var i = offsets(u)
        while (i < offsets(u + 1)) {
          val w = nbrs(i)
          cursor(w) += 1
          cost += deg(w) - cursor(w) + 1
          i += 1
        }
        cost
      }
    }

    /** Per-row cost of [[census]] (every neighbor) or [[supports]]
      * (`above`: the neighbors after the row): deg(u) to mark the row,
      * plus one [[common]] per neighbor.
      */
    def intersectWork(above: Boolean): Int => Long = u => {
      var cost = deg(u).toLong
      var i = offsets(u)
      while (i < offsets(u + 1)) {
        val v = nbrs(i)
        if (!above || v > u) cost += AdjacencyCsr.intersectCost(deg(u), deg(v))
        i += 1
      }
      cost
    }

    /** Sets mark(x) = u + 1 for every x ∈ N(u): a per-row stamp, so a
      * task's mark array never needs a reset.
      */
    private def markRow(u: Int, mark: Array[Int]): Unit = {
      var i = offsets(u)
      while (i < offsets(u + 1)) { mark(nbrs(i)) = u + 1; i += 1 }
    }

    /** |N(u) ∩ N(v)|, with N(u) marked by [[markRow]]. Scans N(v)
      * against the marks, unless that scan costs more than deg(u)
      * binary searches — deg(v) > deg(u) · ⌈log₂ deg(v)⌉ — when it
      * binary-searches N(v) for each member of N(u) instead. So it costs
      * [[AdjacencyCsr.intersectCost]] ≤ ⌈log₂ m⌉ · min(deg u, deg v),
      * and a row sweep over all edges costs O(m^1.5 log m): a star
      * hub's leaves search the hub's row, they never scan it.
      */
    def common(u: Int, v: Int, mark: Array[Int]): Int = {
      var c = 0
      if (AdjacencyCsr.searches(deg(u), deg(v))) {
        var i = offsets(u)
        while (i < offsets(u + 1)) {
          if (java.util.Arrays.binarySearch(nbrs, offsets(v), offsets(v + 1),
              nbrs(i)) >= 0) c += 1
          i += 1
        }
      } else {
        var j = offsets(v)
        while (j < offsets(v + 1)) {
          if (mark(nbrs(j)) == u + 1) c += 1
          j += 1
        }
      }
      c
    }

    /** (id, deg, n_tri) for each row x in [lo, hi) of degree ≥ 2, where
      * n_tri = ½ Σ_{y ∈ N(x)} |N(x) ∩ N(y)|: a triangle at x is seen
      * once from each of its two other corners.
      */
    def census(lo: Int, hi: Int): Iterator[Row] = {
      val mark = new Array[Int](n)
      Iterator.range(lo, hi).filter(deg(_) >= 2).map { x =>
        markRow(x, mark)
        var twice = 0L
        var i = offsets(x)
        while (i < offsets(x + 1)) { twice += common(x, nbrs(i), mark); i += 1 }
        Row(ids(x), deg(x).toLong, twice / 2)
      }
    }

    /** (id_u, id_v, support) for each edge u < v with u in rows
      * [lo, hi) whose support — |N(u) ∩ N(v)|, the triangles through
      * the edge — is at least `minSupport`.
      */
    def supports(lo: Int, hi: Int, minSupport: Int): Iterator[Row] = {
      val mark = new Array[Int](n)
      Iterator.range(lo, hi).flatMap { u =>
        markRow(u, mark)
        val kept = scala.collection.mutable.ArrayBuffer.empty[Row]
        var i = offsets(u + 1) - 1
        while (i >= offsets(u) && nbrs(i) > u) {
          val s = common(u, nbrs(i), mark)
          if (s >= minSupport) kept += Row(ids(u), ids(nbrs(i)), s.toLong)
          i -= 1
        }
        kept
      }
    }

    /** The top-`k` non-adjacent pairs (a, b), a in rows [lo, hi), b > a,
      * by (jaccard desc, a, b), as (a, b, n_common, deg_a, deg_b,
      * jaccard) over original ids. A dense accumulator counts, for each
      * row a, the x > a reached through each shared neighbor, with a
      * touched list so reset costs the pairs found, not n.
      */
    def topPairs(lo: Int, hi: Int, k: Int): Iterator[Row] = {
      if (k <= 0 || lo >= hi) return Iterator.empty
      val acc = new Array[Int](n)
      val mark = new Array[Int](n)
      val touched = new Array[Int](n)
      val top = new TopPairs(k)
      var a = lo
      while (a < hi) {
        markRow(a, mark)
        val s = offsets(a)
        val e = offsets(a + 1)
        var nt = 0
        var i = s
        while (i < e) {
          val w = nbrs(i)
          var j = offsets(w + 1) - 1
          while (j >= offsets(w) && nbrs(j) > a) {
            val x = nbrs(j)
            if (acc(x) == 0) { touched(nt) = x; nt += 1 }
            acc(x) += 1
            j -= 1
          }
          i += 1
        }
        var t = 0
        while (t < nt) {
          val b = touched(t)
          val c = acc(b)
          acc(b) = 0
          if (mark(b) != a + 1)
            top.offer(a, b, c, c.toDouble / (e - s + deg(b) - c).toDouble)
          t += 1
        }
        a += 1
      }
      top.pairs.map(p => Row(ids(p.a), ids(p.b), p.c.toLong,
        deg(p.a).toLong, deg(p.b).toLong, p.jaccard))
    }
  }

  private[operators] object AdjacencyCsr {

    /** The CSR of a canonical (u < v, distinct) edge relation, or None
      * for non-integral ids, a negative bound or more than
      * `maxSymRows / 2` edges — one bounded collect of at most that many
      * rows plus one.
      */
    def collect(canon: DataFrame, maxSymRows: Long): Option[AdjacencyCsr] = {
      import org.apache.spark.sql.types._
      canon.schema("u").dataType match {
        case ByteType | ShortType | IntegerType | LongType if maxSymRows >= 0 =>
          val maxEdges = (maxSymRows / 2) min (Int.MaxValue - 1)
          val rows = canon
            .select(col("u").cast("long"), col("v").cast("long"))
            .limit(maxEdges.toInt + 1).collect()
          if (rows.length > maxEdges) None
          else Some(build(rows.map(_.getLong(0)), rows.map(_.getLong(1))))
        case _ => None
      }
    }

    def build(us: Array[Long], vs: Array[Long]): AdjacencyCsr = {
      val all = us ++ vs
      java.util.Arrays.sort(all)
      var n = 0
      for (i <- all.indices)
        if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
      val ids = java.util.Arrays.copyOf(all, n)
      val du = us.map(java.util.Arrays.binarySearch(ids, _))
      val dv = vs.map(java.util.Arrays.binarySearch(ids, _))
      val offsets = new Array[Int](ids.length + 1)
      (du ++ dv).foreach(x => offsets(x + 1) += 1)
      for (i <- 1 to ids.length) offsets(i) += offsets(i - 1)
      val fill = offsets.clone()
      val nbrs = new Array[Int](2 * us.length)
      for (e <- us.indices) {
        nbrs(fill(du(e))) = dv(e); fill(du(e)) += 1
        nbrs(fill(dv(e))) = du(e); fill(dv(e)) += 1
      }
      for (u <- ids.indices) java.util.Arrays.sort(nbrs, offsets(u), offsets(u + 1))
      new AdjacencyCsr(ids, offsets, nbrs)
    }

    /** deg(u) binary searches of a row of deg(v): at least one probe
      * each, hence the log floor of 1.
      */
    private def searchCost(du: Int, dv: Int): Long =
      du.toLong * ((32 - Integer.numberOfLeadingZeros(dv - 1)) max 1)

    /** Whether [[AdjacencyCsr.common]] binary-searches N(v) (deg `dv`)
      * for the members of N(u) (deg `du`) instead of scanning N(v).
      */
    def searches(du: Int, dv: Int): Boolean = dv > searchCost(du, dv)

    def intersectCost(du: Int, dv: Int): Long = searchCost(du, dv) min dv
  }

  /** One candidate pair over dense indices. */
  private final class ScoredPair(val a: Int, val b: Int, val c: Int,
      val jaccard: Double)

  /** Bounded top-k under the result order (jaccard desc, a, b): a heap
    * whose head is the worst kept pair, so a candidate that does not
    * beat it is rejected without allocating.
    */
  private final class TopPairs(k: Int) {
    private def ahead(j: Double, a: Int, b: Int, q: ScoredPair): Boolean =
      j > q.jaccard || (j == q.jaccard && (a < q.a || (a == q.a && b < q.b)))
    private val heap = new java.util.PriorityQueue[ScoredPair](
      math.min(k, 1024), (p: ScoredPair, q: ScoredPair) =>
        if (ahead(p.jaccard, p.a, p.b, q)) 1
        else if (ahead(q.jaccard, q.a, q.b, p)) -1 else 0)

    def offer(a: Int, b: Int, c: Int, j: Double): Unit =
      if (heap.size < k) heap.add(new ScoredPair(a, b, c, j))
      else if (ahead(j, a, b, heap.peek)) {
        heap.poll()
        heap.add(new ScoredPair(a, b, c, j))
      }

    def pairs: Iterator[ScoredPair] = {
      import scala.jdk.CollectionConverters._
      heap.iterator.asScala
    }
  }

  /** One broadcast of `csr` and one task per row range of equal `work`
    * ([[AdjacencyCsr.ranges]], two ranges per core), each emitting
    * `rows(csr, lo, hi)` — the launcher of every CSR kernel.
    */
  private def csrRows(canon: DataFrame, csr: AdjacencyCsr, work: Int => Long)(
      rows: (AdjacencyCsr, Int, Int) => Iterator[Row])
      : org.apache.spark.rdd.RDD[Row] = {
    val sc = canon.sparkSession.sparkContext
    val cuts = csr.ranges(2 * sc.defaultParallelism, work)
    val bc = sc.broadcast(csr)
    sc.parallelize(cuts.indices.init, cuts.length - 1)
      .mapPartitions(_.flatMap(r => rows(bc.value, cuts(r), cuts(r + 1))))
  }

  /** A kernel's rows as a DataFrame of non-null longs named `longs`,
    * then `tail`, with the `ids` columns cast back to `canon`'s id type.
    */
  private def csrFrame(canon: DataFrame, longs: Seq[String], ids: Set[String],
      tail: Seq[org.apache.spark.sql.types.StructField] = Nil)(
      rows: org.apache.spark.rdd.RDD[Row]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(
      longs.map(StructField(_, LongType, nullable = false)) ++ tail)
    val idType = canon.schema("u").dataType
    canon.sparkSession.createDataFrame(rows, schema)
      .select(schema.fieldNames.toIndexedSeq.map(c =>
        if (ids(c)) col(c).cast(idType).as(c) else col(c)): _*)
  }

  /** Route 1 of [[jaccardFromCanon]]: one task per wedge-balanced row
    * range, each emitting its local top-N, merged by the same
    * `orderBy(...).limit(topN)` as the other routes
    * (TakeOrderedAndProject). Node columns keep the input id type;
    * n_common and degrees are long, jaccard is the same double
    * expression, n / (deg_a + deg_b − n), as the wedge plans.
    */
  private[operators] def jaccardCsr(canon: DataFrame, csr: AdjacencyCsr,
      topN: Int): DataFrame = {
    import org.apache.spark.sql.types._
    csrFrame(canon, Seq("node_a", "node_b", "n_common", "deg_a", "deg_b"),
      ids = Set("node_a", "node_b"), tail = Seq(StructField("jaccard", DoubleType)))(
      csrRows(canon, csr, csr.pairWork)((g, lo, hi) => g.topPairs(lo, hi, topN)))
      .orderBy(col("jaccard").desc, col("node_a"), col("node_b"))
      .limit(topN)
  }

  /** Route 2 of [[jaccardFromCanon]], the shuffle plan: reached only
    * past the kernel bound (or for non-integral ids), so every join here
    * is planned for data that does not fit a broadcast. `deg` arrives
    * checkpointed from the router's degree groupBy.
    *
    * Invariants:
    *   - PACKED LEGS when the ids are LongType in [0, 2³¹) (one min/max
    *     aggregate over the node-sized `deg`): each wedge leg carries
    *     (node << 32 | deg) as ONE long. deg ≤ #nodes < 2³¹ by the same
    *     gate and ids are distinct per leg, so packed comparisons order
    *     exactly like ids, and the degrees decode out of the pair key
    *     after the count — no post-aggregate degree joins. Other ids
    *     take [[jaccardNodeLevelWide]].
    *   - The pair relation, the only relation bigger than the graph, is
    *     touched by exactly one exchange (on a single packed long key,
    *     which radix-sorts) and counted by a streaming sort aggregate,
    *     then consumed in the same stage by the anti-join, the decode
    *     projection and the TakeOrdered heap.
    */
  private[operators] def jaccardNodeLevel(canon: DataFrame, sym: DataFrame,
      deg: DataFrame, topN: Int): DataFrame = {
    // Packable needs LongType ids, checked BEFORE the min/max probe:
    // Row.getLong throws on IntegerType and shiftleft on a 32-bit
    // column masks the shift distance (a silent key collapse).
    val packable = deg.schema("u").dataType ==
      org.apache.spark.sql.types.LongType && {
      val bounds = deg.agg(min(col("u")), max(col("u"))).head()
      !bounds.isNullAt(0) && bounds.getLong(0) >= 0L &&
        bounds.getLong(1) < (1L << 31)
    }
    if (!packable)
      return jaccardNodeLevelWide(canon, sym, deg, topN)
    val packedLeg = sym
      .join(deg.select(col("u").as("v"), col("deg")), Seq("v"))
      .select(col("u").as("via"),
        shiftleft(col("v"), 32).bitwiseOR(col("deg")).as("p"))
    // Wedge generation stays a SELF-JOIN on the center column, not a
    // grouped adjacency-list explode: a grouped explode funnels each
    // hub's C(deg, 2) pair mass through the single task holding that
    // hub's row, while the join's probe side streams hub pairs across
    // every partition that holds a probe row.
    val wedges = packedLeg.select(col("via"), col("p").as("pa"))
      .join(packedLeg.select(col("via"), col("p").as("pb")), Seq("via"))
      .where(col("pa") < col("pb"))
    // Count by SORTING, not hashing: a hash aggregate pays a random
    // probe per wedge row into a map far larger than cache, twice
    // (partial + final), and the partial step deduplicates almost
    // nothing. One exchange on the packed pair key (a << 32 | b), then
    // a streaming sort aggregate (`replaceHashWithSortAgg` in the
    // engine's sessions turns the planned hash aggregate into it). The
    // degrees ride as a first() over the packed (deg_a << 32 | deg_b)
    // payload — constant within a group, and an order-SENSITIVE
    // aggregate, which also pins the sort against EliminateSorts.
    val nPart = sym.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val m32 = lit((1L << 32) - 1)
    val common = wedges
      .select(
        shiftleft(shiftright(col("pa"), 32), 32)
          .bitwiseOR(shiftright(col("pb"), 32)).as("pk"),
        shiftleft(col("pa").bitwiseAND(m32), 32)
          .bitwiseOR(col("pb").bitwiseAND(m32)).as("dd"))
      .repartition(nPart, col("pk"))
      .sortWithinPartitions(col("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n_common"), first(col("dd")).as("dd"))
    // packed edge list for the anti-join: u < v ⇒ same key orientation
    // as the wedge pairs
    val canonPk = canon
      .select(shiftleft(col("u"), 32).bitwiseOR(col("v")).as("pk"))
    common
      .join(canonPk, Seq("pk"), "left_anti")
      .select(shiftright(col("pk"), 32).as("node_a"),
        col("pk").bitwiseAND(m32).as("node_b"), col("n_common"),
        shiftright(col("dd"), 32).as("deg_a"),
        col("dd").bitwiseAND(m32).as("deg_b"))
      .select(col("node_a"), col("node_b"), col("n_common"),
        col("deg_a"), col("deg_b"),
        (col("n_common").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_common"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("node_a"), col("node_b"))
      .limit(topN)
  }

  /** Broadcast bound, in rows, for the graph kernels' node/edge-sized
    * relations (≈ 64 MB of packed sym legs; for the jaccard kernel,
    * 2|E| of the broadcast CSR) — the q163/q81 discipline: a counted
    * gate, not a stats guess, because localCheckpoint scans carry no
    * statistics and would otherwise force SMJ everywhere.
    */
  private val BcastSymRows = 4000000L

  /** The conf of an iterative loop whose per-iteration joins are
    * broadcast under [[BcastSymRows]]: AQE off, so each iteration runs
    * as one static-plan job instead of paying an AQE stage-job per
    * exchange. Applied through [[graft.core.GraftSession.withConf]].
    */
  private val AqeOff = Map("spark.sql.adaptive.enabled" -> "false")

  /** Unpacked node-level shuffle plan — [[jaccardNodeLevel]] for ids
    * that do not pack (not LongType, or outside [0, 2³¹)).
    */
  private[operators] def jaccardNodeLevelWide(canon: DataFrame, sym: DataFrame,
      deg: DataFrame, topN: Int): DataFrame = {
    val wedges = sym.select(col("u").as("via"), col("v").as("a"))
      .join(sym.select(col("u").as("via"), col("v").as("b")), Seq("via"))
      .where(col("a") < col("b"))
    val common = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(canon.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .join(deg.select(col("u").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a").as("node_a"), col("b").as("node_b"), col("n_common"),
        col("deg_a"), col("deg_b"),
        (col("n_common").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_common"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("node_a"), col("node_b"))
      .limit(topN)
  }

  /** Degree-routed Jaccard link prediction — the production entry
    * point that picks between [[jaccardLinkPrediction]]'s exact wedge
    * join and [[approxJaccardLinks]]'s MinHash-LSH path on a MEASURED
    * degree bound. The exact path's Σ deg² wedge mass is quadratic in
    * the hottest hub's degree; the max degree decides whether it is
    * affordable. Under the kernel bound it is read off the CSR that
    * [[jaccardFromCanon]]'s kernel runs on (one bounded collect serves
    * both); past it, one edge-linear aggregate measures it:
    *
    *   - max degree ≤ `maxExactDegree` → exact top-N (identical to
    *     calling [[jaccardLinkPrediction]] directly — spec-pinned);
    *   - above it → LSH candidates + exact verify, returning the
    *     top-N among pairs with Jaccard ≥ `threshold` (precision 1;
    *     recall bounded by the banding math in
    *     [[approxJaccardLinks]]) — the documented approximation
    *     contract for graphs where the exact plan cannot scale.
    *
    * Regimes, measured (round 11 corrects an earlier 60×-inflated
    * degree estimate): the q154 fixture's max hub is 481 neighbors at
    * sf0.1, and TPC-H-shaped growth holds per-supplier volume CONSTANT
    * (suppliers and lineitems both scale with sf), so the declared
    * q154 stays on the exact path at every sf and its wedge mass is
    * linear — the 10×/30× disjoint-copy exponents in BASELINE.md are
    * exact-path numbers. The router's audience is graphs whose hubs
    * grow with the data (social/web-shaped): on the shared-supplier
    * hub-growth corpus (tools/scale_corpus.py --hub-growth) max degree
    * is K·481, the probe crosses 2¹³ at K ≥ 18, and the route flips to
    * LSH — measured at K=30 with the returned sample pair-verified
    * exactly (BASELINE.md round-11). The forced-LSH twin (q279) pins
    * the approx path's own scaling and its precision contract on the
    * same graph.
    */
  def jaccardLinksAuto(edges: DataFrame, srcCol: String, dstCol: String,
      topN: Int = 50, maxExactDegree: Long = 1L << 13,
      threshold: Double = 0.7): DataFrame = {
    val canon = canonicalEdges(edges, srcCol, dstCol)
    val csr = AdjacencyCsr.collect(canon, BcastSymRows)
    val maxDeg = csr.fold(canon.select(col("u"))
      .unionAll(canon.select(col("v")))
      .groupBy(col("u")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head().getLong(0))(_.maxDegree)
    if (maxDeg <= maxExactDegree)
      jaccardFromCanon(canon, topN, csr)
    else
      // top-N means TOP-N on the approx side too — the ordering
      // contract lives HERE, at the limit site (approxJaccardLinks
      // returns an unordered thresholded set). orderBy+limit compiles
      // to TakeOrderedAndProject — per-partition top-N heaps, no
      // global sort — so determinism costs nothing at scale.
      approxFromCanon(canon, threshold)
        .orderBy(col("jaccard").desc, col("node_a"), col("node_b"))
        .limit(topN)
  }

  /** Declared q154: top-50 predicted links in the q81 bipartite
    * customer–supplier graph (shared counterparties on high-value
    * orders), through [[jaccardLinksAuto]]'s degree router — the
    * fixture's hubs (~3 k neighbors at sf0.1) sit under the exact
    * bound at every test scale, so the declared relation is the exact
    * wedge-join answer and the oracle is exact SQL. Ties at the cut
    * are broken by (jaccard desc, a, b) on exact small-integer
    * ratios, so the boundary is engine-stable.
    */
  def q154JaccardLinks(spark: SparkSession, d: String): DataFrame =
    jaccardLinksAuto(counterpartyEdges(spark, d).distinct(), "src", "dst", topN = 50)

  /** Declared q279: q154's graph FORCED through the post-flip LSH path
    * (`maxExactDegree = 0`) — the row that makes the router's approx
    * side driver-visible on the graph it actually guards. The graph's
    * top pair sits at Jaccard 1/3 (measured, sf0.1), far below the 0.7
    * contract threshold, so the correct answer is EMPTY: the oracle is
    * the exact thresholded SQL, and a hash match asserts the LSH path's
    * PRECISION (no sub-threshold pair survives the exact verify) — the
    * recall half of the contract is driver-checked by q191 on the
    * document graph, where qualifying pairs exist. Benched at the
    * 10×/30× disjoint-copy corpora this row pins the approx path's own
    * scaling exponent (BASELINE.md round-11).
    */
  def q279JaccardLinksLsh(spark: SparkSession, d: String): DataFrame =
    jaccardLinksAuto(counterpartyEdges(spark, d).distinct(), "src", "dst", topN = 50,
      maxExactDegree = 0L)

  val q279Sql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT o_custkey AS u, l_suppkey + 1000000 AS v
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE o_totalprice > 150000),
      |sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
      |wedges AS (
      |  SELECT l.v AS a, r.v AS b
      |  FROM sym l JOIN sym r ON l.u = r.u AND l.v < r.v),
      |common AS (
      |  SELECT a, b, count(*) AS n_common FROM wedges GROUP BY a, b),
      |cand AS (
      |  SELECT c.a, c.b, c.n_common, da.deg AS deg_a, db.deg AS deg_b
      |  FROM common c
      |  JOIN deg da ON da.u = c.a
      |  JOIN deg db ON db.u = c.b
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM e0 WHERE e0.u = c.a AND e0.v = c.b))
      |SELECT a AS node_a, b AS node_b,
      |  CAST(n_common AS BIGINT) AS n_common,
      |  CAST(deg_a AS BIGINT) AS deg_a, CAST(deg_b AS BIGINT) AS deg_b,
      |  CAST(n_common AS DOUBLE) / (deg_a + deg_b - n_common) AS jaccard
      |FROM cand
      |WHERE CAST(n_common AS DOUBLE) / (deg_a + deg_b - n_common) >= 0.7
      |ORDER BY jaccard DESC, node_a, node_b
      |LIMIT 50""".stripMargin

  val q154Sql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT o_custkey AS u, l_suppkey + 1000000 AS v
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE o_totalprice > 150000),
      |sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
      |wedges AS (
      |  SELECT l.v AS a, r.v AS b
      |  FROM sym l JOIN sym r ON l.u = r.u AND l.v < r.v),
      |common AS (
      |  SELECT a, b, count(*) AS n_common FROM wedges GROUP BY a, b),
      |cand AS (
      |  SELECT c.a, c.b, c.n_common, da.deg AS deg_a, db.deg AS deg_b
      |  FROM common c
      |  JOIN deg da ON da.u = c.a
      |  JOIN deg db ON db.u = c.b
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM e0 WHERE e0.u = c.a AND e0.v = c.b))
      |SELECT a AS node_a, b AS node_b,
      |  CAST(n_common AS BIGINT) AS n_common,
      |  CAST(deg_a AS BIGINT) AS deg_a, CAST(deg_b AS BIGINT) AS deg_b,
      |  CAST(n_common AS DOUBLE) / (deg_a + deg_b - n_common) AS jaccard
      |FROM cand
      |ORDER BY jaccard DESC, node_a, node_b
      |LIMIT 50""".stripMargin

  /** Declared q282: q154's graph through [[jaccardLinkPrediction]],
    * the router-free exact entry point (no degree probe, no LSH
    * branch). Its oracle is q154's exact SQL, so a hash match pins
    * direct entry ≡ [[jaccardLinksAuto]]'s exact branch on a
    * driver-checked relation, not only in the spec suite. The key keeps
    * its `_collapsed` suffix because the baselines and the oracle map
    * are keyed by it.
    */
  def q282JaccardLinksCollapsed(spark: SparkSession, d: String): DataFrame =
    jaccardLinkPrediction(counterpartyEdges(spark, d).distinct(), "src", "dst", 50)

  /** Degree assortativity of an undirected graph — the Pearson
    * correlation of endpoint degrees over the symmetric edge list
    * (Newman 2002): positive = hubs prefer hubs (social-style),
    * negative = hub-and-spoke (web/biology-style). A one-number
    * structure fingerprint for any co-occurrence graph the pipeline
    * builds.
    *
    * Scale shape: canonical edges + one degree aggregate + two
    * node-keyed joins; the correlation is closed-form sufficient
    * statistics over the edge relation. No quadratic intermediate.
    * The symmetric edge list is never materialized: over sym, the
    * endpoint-degree moments obey m = 2e, Σx = Σy = Σ(dᵤ+dᵥ),
    * Σxy = 2·Σdᵤdᵥ, Σx² = Σy² = Σ(dᵤ²+dᵥ²) — so the degree joins and
    * the moment aggregate run over the HALF-SIZED canonical relation
    * and the Pearson numerator/denominator fold symmetrically
    * (both radicands equal, the sqrt cancels). r8 joined degrees onto
    * the doubled sym relation; the fold halves both join inputs.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // an eager checkpoint: the lazy one measured ~10 % slower on q170
    val canon = canonicalEdges(edges, srcCol, dstCol, checkpoint = false)
      .localCheckpoint()
    val deg = canon.select(col("u"))
      .unionAll(canon.select(col("v").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
    canon
      .join(deg.select(col("u"), col("deg").as("__da")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("__db")), Seq("v"))
      .select(col("__da").cast("double").as("__x"),
        col("__db").cast("double").as("__y"))
      .agg(
        count(lit(1)).cast("double").as("__e"),
        sum(col("__x") + col("__y")).as("__s1"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x") + col("__y") * col("__y")).as("__s2"))
      .select(col("__e").cast("long").as("n_edges"),
        ((lit(4.0) * col("__e") * col("__sxy") - col("__s1") * col("__s1")) /
          (lit(2.0) * col("__e") * col("__s2") - col("__s1") * col("__s1")))
          .as("assortativity"))
  }

  /** Declared q170: assortativity of the part co-occurrence graph. */
  def q170Assortativity(spark: SparkSession, d: String): DataFrame = {
    // pairs come straight off the per-order sorted part set as ordered
    // (u < v) combinations — one explode of exactly C(k,2) rows per
    // order, no u ≥ v rows ever materialized — and stay NON-distinct
    // here: degreeAssortativity canonicalizes+distincts its input
    // anyway, and r8 paid that dedup shuffle twice (measured 4.0 s ->
    // under 2 s at sf0.1 with the fold above). Per-order k is bounded
    // (lineitems per order ≤ 7 in this schema), so C(k,2) is a
    // constant factor, not a blowup.
    val li = Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val ps = array_sort(collect_set(col("pk")))
    val co = li.groupBy(col("ok"))
      .agg(ps.as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))),
          y => struct(x.as("u"), y.as("v")))))).as("__p"))
      .select(col("__p.u").as("u"), col("__p.v").as("v"))
    degreeAssortativity(co, "u", "v")
  }

  val q170Sql: String =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      |  FROM li x JOIN li y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |s AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |d AS MATERIALIZED (SELECT u, count(*) AS deg FROM s GROUP BY u),
      |p AS (
      |  SELECT CAST(da.deg AS DOUBLE) AS x, CAST(db.deg AS DOUBLE) AS y
      |  FROM s JOIN d da ON da.u = s.u JOIN d db ON db.u = s.v),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS m,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
      |    sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM p)
      |SELECT CAST(m / 2 AS BIGINT) AS n_edges,
      |  (m * sxy - sx * sy)
      |    / sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))
      |    AS assortativity
      |FROM m""".stripMargin

  /** Modularity of a GIVEN node partition (Newman–Girvan Q): per
    * community, the within-community edge fraction minus the expected
    * fraction under the degree-preserving null model —
    * Q_c = m_c/m − (d_c/2m)². Scores how well an EXTERNAL grouping
    * (region tags, cluster labels, dedup components) explains the
    * graph's wiring — the validation step after any community-ish
    * labeling.
    *
    * Scale shape: two node-keyed joins attach communities to edge
    * endpoints, one domain-bounded aggregate per community, degree
    * mass via one union-aggregate; Q is closed-form per community
    * plus a broadcast total. No quadratic intermediate.
    *
    * @param nodes (node, community) assignment; edges to nodes absent
    *              from it are dropped
    * @return per community: community, n_nodes, m_within, degree_mass,
    *         q_contrib, and the graph-wide q repeated
    */
  def partitionModularity(edges: DataFrame, srcCol: String,
      dstCol: String, nodes: DataFrame, nodeCol: String,
      communityCol: String): DataFrame = {
    val canon = canonicalEdges(edges, srcCol, dstCol, checkpoint = false)
    val comm = nodes.select(col(nodeCol).as("__n"),
      col(communityCol).as("__c"))
    val tagged = canon
      .join(comm.select(col("__n").as("u"), col("__c").as("__cu")), Seq("u"))
      .join(comm.select(col("__n").as("v"), col("__c").as("__cv")), Seq("v"))
      .localCheckpoint()
    val m = tagged.agg(count(lit(1)).as("__m"))
    val within = tagged.where(col("__cu") === col("__cv"))
      .groupBy(col("__cu").as("community"))
      .agg(count(lit(1)).as("m_within"))
    val degMass = tagged
      .select(col("__cu").as("community"))
      .unionAll(tagged.select(col("__cv").as("community")))
      .groupBy(col("community")).agg(count(lit(1)).as("degree_mass"))
    val nNodes = comm.groupBy(col("__c").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val per = nNodes
      .join(degMass, Seq("community"), "left")
      .join(within, Seq("community"), "left")
      .na.fill(0L, Seq("m_within", "degree_mass"))
      .crossJoin(broadcast(m))
      .withColumn("q_contrib",
        col("m_within").cast("double") / col("__m") -
          pow(col("degree_mass").cast("double") / (col("__m") * 2), 2))
    val total = per.agg(sum(col("q_contrib")).as("__q"))
    per.crossJoin(broadcast(total))
      .select(col("community"), col("n_nodes"), col("m_within"),
        col("degree_mass"), col("q_contrib"), col("__q").as("q_total"))
  }

  /** Declared q176: is high-value trade intra-national? Modularity of
    * the customer–supplier counterparty graph under the nation
    * partition (customers AND suppliers carry their nation key).
    */
  def q176Modularity(spark: SparkSession, d: String): DataFrame = {
    val edges = counterpartyEdges(spark, d).distinct()
    val custNation = Tables.customer(spark, d)
      .select(col("c_custkey").as("node"), col("c_nationkey").as("nation"))
    val suppNation = Tables.supplier(spark, d)
      .select((col("s_suppkey") + lit(1000000L)).as("node"),
        col("s_nationkey").as("nation"))
    partitionModularity(edges, "src", "dst",
      custNation.unionAll(suppNation), "node", "nation")
  }

  val q176Sql: String =
    """WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS u, l_suppkey + 1000000 AS v
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE o_totalprice > 150000),
      |comm AS MATERIALIZED (
      |  SELECT c_custkey AS n, c_nationkey AS c FROM customer
      |  UNION ALL
      |  SELECT s_suppkey + 1000000, s_nationkey FROM supplier),
      |tagged AS MATERIALIZED (
      |  SELECT e0.u, e0.v, cu.c AS cu, cv.c AS cv
      |  FROM e0 JOIN comm cu ON cu.n = e0.u JOIN comm cv ON cv.n = e0.v),
      |m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM tagged),
      |w AS (
      |  SELECT cu AS community, count(*) AS m_within
      |  FROM tagged WHERE cu = cv GROUP BY 1),
      |dm AS (
      |  SELECT community, count(*) AS degree_mass FROM (
      |    SELECT cu AS community FROM tagged
      |    UNION ALL SELECT cv FROM tagged)
      |  GROUP BY 1),
      |nn AS (SELECT c AS community, count(*) AS n_nodes FROM comm GROUP BY 1),
      |per AS (
      |  SELECT nn.community, nn.n_nodes,
      |    coalesce(w.m_within, 0) AS m_within,
      |    coalesce(dm.degree_mass, 0) AS degree_mass,
      |    coalesce(w.m_within, 0) / m.m
      |      - pow(coalesce(dm.degree_mass, 0) / (2 * m.m), 2) AS q_contrib
      |  FROM nn LEFT JOIN dm USING (community)
      |  LEFT JOIN w USING (community) CROSS JOIN m)
      |SELECT CAST(community AS BIGINT) AS community,
      |  CAST(n_nodes AS BIGINT) AS n_nodes,
      |  CAST(m_within AS BIGINT) AS m_within,
      |  CAST(degree_mass AS BIGINT) AS degree_mass,
      |  q_contrib,
      |  (SELECT sum(q_contrib) FROM per) AS q_total
      |FROM per""".stripMargin

  /** Scale-safe APPROXIMATE Jaccard link prediction — the 100 TB
    * escape hatch beside [[jaccardLinkPrediction]]'s exact wedge join
    * (whose Σ deg² intermediate is the known pressure point at hub
    * degrees; see q154's plan audit). Candidates come from MinHash-LSH
    * over each node's NEIGHBOR SET instead of from wedges, then are
    * verified with EXACT set Jaccard, so precision is 1 by
    * construction and the output is directly comparable to the exact
    * all-pairs oracle at any threshold the banding covers.
    *
    * Pipeline (every step linear in edges or output-proportional):
    *   1. one `MinHashAgg` aggregate per node over hashed neighbor ids
    *      → k-long signature (k multiply-mods per edge endpoint);
    *   2. signature DEDUP: nodes with identical signatures (exact
    *      duplicate neighbor sets, the dominant cluster shape — e.g.
    *      every degree-1 customer of one supplier) collapse to one
    *      representative signature row, so the band explode emits ONE
    *      row per distinct signature per band instead of `bands` copies
    *      of every member — without this, a g-member identical group
    *      pays g²·bands candidate rows; with it, g² (its true output
    *      size) plus `bands` rows;
    *   3. banded bucket join over DISTINCT signatures → candidate
    *      signature pairs, deduped at signature level BEFORE member
    *      expansion;
    *   4. expand members, drop existing edges (anti-join), verify with
    *      exact `array_intersect` Jaccard over adjacency sets.
    *
    * Recall: a pair at Jaccard s collides in ≥1 band with probability
    * 1−(1−s^r)^bands; defaults (k=256, bands=64, r=4) put the miss
    * probability at threshold 0.7 below 3e−8 per pair — deterministic
    * given the seed, and the recall spec measures it against the exact
    * path. Identical neighbor sets (s=1) produce identical signatures
    * and can never be missed.
    *
    * Adjacency sets ride a `collect_set`; per-node memory is bounded by
    * max degree (~115 KB per row at the hub-growth corpus's K=30 /
    * 14,430-neighbor hubs). For extreme-hub graphs, swap step 4 for a
    * candidate⋈edges re-aggregation (count common neighbors without
    * materializing either set); the candidate generation is unchanged.
    *
    * @return (node_a, node_b, n_common, deg_a, deg_b, jaccard) for
    *         non-adjacent pairs with neighbor-set Jaccard ≥ `threshold`
    */
  def approxJaccardLinks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      threshold: Double = 0.7,
      numHashes: Int = 256,
      bands: Int = 64,
      seed: Long = 42L,
      pairFilter: Column = lit(true),
      nodeFilter: Column => Column = _ => lit(true)): DataFrame =
    // an eager checkpoint: the lazy one measured ~10 % slower on q191
    approxFromCanon(
      canonicalEdges(edges, srcCol, dstCol, checkpoint = false).localCheckpoint(),
      threshold, numHashes, bands, seed, pairFilter, nodeFilter)

  /** [[approxJaccardLinks]] over [[canonicalEdges]], the entry of
    * [[jaccardLinksAuto]]'s LSH branch, which holds the canonical
    * relation already.
    */
  private def approxFromCanon(
      canon: DataFrame,
      threshold: Double,
      numHashes: Int = 256,
      bands: Int = 64,
      seed: Long = 42L,
      pairFilter: Column = lit(true),
      nodeFilter: Column => Column = _ => lit(true)): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    val P = graft.functions.MinHashAgg.P
    // a union, not [[symmetric]]: `canon` is materialized, so reading it
    // twice is cheap, and the nodeFilter below pushes into both branches
    // (it cannot pass an explode — measured ~10 % slower on q191)
    val sym = canon.unionAll(canon.select(col("v").as("u"), col("u").as("v")))
    // nodeFilter restricts which nodes get SIGNATURES (and thus may
    // appear in output pairs) — filtered-out nodes still count as
    // NEIGHBORS. On a bipartite graph where only one side's pairs are
    // wanted (q191: docs, not shingles), this is a 30x saving: the
    // feature side contributes hashes but never carries a k-long
    // signature, a banded explode, or an adjacency set.
    val eligible = sym.where(nodeFilter(col("u")))
    // adjacency sets: verify side + degrees (sym is distinct, so the
    // set size IS the degree)
    val adj = eligible.groupBy(col("u"))
      .agg(collect_set(col("v")).as("__nbrs"))
      .select(col("u"), col("__nbrs"),
        size(col("__nbrs")).cast("bigint").as("__deg"))
    val sigs = eligible
      .select(col("u"), pmod(xxhash64(col("v")), lit(P)).as("__x"))
      .groupBy(col("u"))
      .agg(graft.functions.MinHashAgg.of(numHashes, seed)(col("__x")).as("__sig"))
      .select(col("u"), col("__sig"), hash(col("__sig")).as("__sk"))
      // two consumers (member lists, distinct-signature banding)
      .localCheckpoint()
    // members of each identical-signature group
    val members = sigs.select(col("__sk"), col("u"))
    // within-group pairs: identical signatures ⇒ Jaccard ≈ 1 — these
    // ARE output pairs; cost is output-proportional
    val within = members.join(
        members.select(col("__sk"), col("u").as("__u2")), Seq("__sk"))
      .where(col("u") < col("__u2"))
      .select(col("u").as("a"), col("__u2").as("b"))
    // banded bucket join over DISTINCT signatures only
    val distinctSigs = sigs.groupBy(col("__sk"))
      .agg(first(col("__sig")).as("__sig"))
    val withBands = distinctSigs.select(
      col("__sk"),
      posexplode(expr(s"band_hashes(__sig, $bands, $r)")))
      .select(col("__sk"), col("pos").as("__band"), col("col").as("__bh"))
    val skPairs = withBands
      .join(withBands.select(col("__sk").as("__sk2"),
        col("__band"), col("__bh")), Seq("__band", "__bh"))
      .where(col("__sk") =!= col("__sk2"))
      .select(col("__sk"), col("__sk2"))
      .dropDuplicates("__sk", "__sk2")
    val cross = skPairs
      .join(members, Seq("__sk"))
      .join(members.select(col("__sk").as("__sk2"), col("u").as("__u2")),
        Seq("__sk2"))
      .select(least(col("u"), col("__u2")).as("a"),
        greatest(col("u"), col("__u2")).as("b"))
      .dropDuplicates("a", "b")
    // pairFilter ("only doc-side pairs", "only nodes in this range")
    // sits BEFORE the anti-join and verify joins; Catalyst pushes its
    // side-local conjuncts into the member-expansion joins above, so
    // excluded candidate pairs are pruned where they would be BORN,
    // not after materialization
    within.unionAll(cross)
      .where(pairFilter)
      .join(canon.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .join(adj.select(col("u").as("a"), col("__nbrs").as("__na"),
        col("__deg").as("deg_a")), Seq("a"))
      .join(adj.select(col("u").as("b"), col("__nbrs").as("__nb"),
        col("__deg").as("deg_b")), Seq("b"))
      .select(col("a").as("node_a"), col("b").as("node_b"),
        size(array_intersect(col("__na"), col("__nb")))
          .cast("bigint").as("n_common"),
        col("deg_a"), col("deg_b"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("deg_a") + col("deg_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
    // no trailing sort: the thresholded relation is a SET contract —
    // callers that want an ordered prefix order at the call site
    // ([[jaccardLinksAuto]]'s orderBy+limit → TakeOrderedAndProject),
    // and a global sort baked in here would be dead work for every
    // consumer that aggregates or joins the links instead
  }

  /** Declared q191: approximate link prediction over the DOC →
    * RARE-SHINGLE bipartite graph — document nodes, word-3-gram
    * shingle nodes restricted to document frequency 2..20 (the q138
    * hot-key gate: df ≥ 2 or a shingle links nothing, df ≤ 20 or a
    * boilerplate shingle makes every wedge method quadratic — and, as
    * measured in round 7, makes the similarity signal meaningless).
    * Doc–doc neighbor-set Jaccard over this graph = rare-shingle
    * similarity, which the fixture's planted near-duplicate passages
    * keep ≥ 0.7 at EVERY scale (the customer–supplier graph's
    * neighbor-Jaccard collapses below 0.5 past sf0.001 — measured, so
    * a thresholded query there would be vacuously green). The
    * `pairFilter` keeps only doc-side pairs (shingle node ids live in
    * the md5-derived ≥ 10⁹ range), and the exact all-pairs oracle
    * catches any LSH recall miss as a hard failure: qualifying pairs
    * sit at ≥ 0.8 where the 64-band miss probability is < 5e-8.
    */
  def q191ApproxJaccardLinks(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val sh = docs.select(col("doc_id"),
        explode(NearDup.shingleSet(col("text"))).as("__s"))
    val rare = sh.groupBy(col("__s")).agg(count(lit(1)).as("__df"))
      .where(col("__df").between(2, 20))
      .select(col("__s"))
    val edges = sh.join(rare, Seq("__s"), "left_semi")
      .select(col("doc_id").as("src"),
        (graft.functions.GraftFunctions.hexLong(
          substring(md5(col("__s")), 1, 15)) + lit(1000000000L)).as("dst"))
    // doc nodes only get signatures/adjacency (nodeFilter); pairFilter
    // is then redundant but kept as the belt to the brace
    approxJaccardLinks(edges, "src", "dst", threshold = 0.7,
      pairFilter = col("a") < 1000000000L && col("b") < 1000000000L,
      nodeFilter = _ < 1000000000L)
  }

  val q191Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) BETWEEN 2 AND 20),
      |e AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM rare)),
      |sets AS (SELECT doc_id, list_sort(list(s)) AS ss FROM e GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS node_a, b.doc_id AS node_b,
      |    len(list_intersect(a.ss, b.ss)) AS n_common,
      |    len(a.ss) AS deg_a, len(b.ss) AS deg_b
      |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id)
      |SELECT node_a, node_b,
      |  CAST(n_common AS BIGINT) AS n_common,
      |  CAST(deg_a AS BIGINT) AS deg_a, CAST(deg_b AS BIGINT) AS deg_b,
      |  CAST(n_common AS DOUBLE) / (deg_a + deg_b - n_common) AS jaccard
      |FROM pairs
      |WHERE CAST(n_common AS DOUBLE) / (deg_a + deg_b - n_common) >= 0.7
      |ORDER BY jaccard DESC, node_a, node_b""".stripMargin

  /** Synchronous label propagation (Raghavan et al. 2007) with PINNED
    * determinism: every round, each node adopts the most frequent label
    * among its neighbors, ties broken by the SMALLEST label — the
    * classic linear-time community heuristic, made engine-portable by
    * replacing its usual random tie-coin with the lexicographic rule
    * (both engines then compute the identical fixed-round trajectory;
    * the DuckDB oracle is the same unrolled recurrence).
    *
    * A bounded ROUND COUNT rather than convergence detection:
    * synchronous LPA can 2-cycle on bipartite structures, so
    * "converged" is not well-defined; a fixed small round count is the
    * honest contract, and is what makes the bounded CTE unroll an exact
    * oracle (the k-core/q153 pattern).
    *
    * Scale shape per round: one edge⋈labels hash join (labels
    * broadcast when the node set fits — same measured gate as
    * [[hits]]; the co-partitioned shuffle-join alternative was
    * measured SLOWER at sf0.1, 7.2 s vs 5.1 s, despite both sides
    * hashing on the join key — the per-round labels exchange costs
    * more than the 200k-row broadcast), then ONE node-keyed exchange:
    * [[graft.functions.ModeMinAgg]] counts neighbor votes and takes
    * the (max count, min label) argmax inside the aggregation buffer
    * (the two-aggregation formulation paid a second full shuffle of
    * the (node, label) relation every round — measured 5.8 → 5.1 s).
    * Eager per-round checkpoints keep lineage O(1) and run each round
    * as one static-plan job under the scoped AQE override on the
    * broadcast path.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"labelPropagation: rounds must be >= 1, got $rounds")
    val canon = canonicalEdges(edges, srcCol, dstCol, checkpoint = false)
    val sym = symmetric(canon, "u", "v")
      .repartition(col("v"))
      .localCheckpoint()
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("community", col("node"))
      .localCheckpoint()
    val hint = labels.count() <= BcastSymRows
    withConf(edges.sparkSession, if (hint) AqeOff else Map.empty) {
      for (i <- 1 to rounds) {
        val nbr = sym.join(
          (if (hint) broadcast(labels) else labels)
            .select(col("node").as("v"), col("community")), Seq("v"))
        // ONE node-keyed exchange per round: the neighbor-vote count and
        // the (max count, min label) argmax both live inside the
        // ModeMinAgg buffer — the two-aggregation formulation paid a
        // second full shuffle of the (node, label) relation every round
        labels = nbr
          .groupBy(col("u"))
          .agg(graft.functions.ModeMinAgg.of(col("community")).as("community"))
          .withColumnRenamed("u", "node")
        // checkpoint every SECOND round (and the last) on the broadcast
        // path — two rounds chain into one static-plan job (the hits
        // every-4 discipline, shallower because each LPA round carries a
        // full ObjectHashAggregate whose partial state is heavier than
        // hits' sum); the shuffle path keeps per-round lazy checkpoints
        // for O(1) lineage
        if (!hint || i % 2 == 0 || i == rounds)
          labels = labels.localCheckpoint(eager = hint)
      }
    }
    labels
  }

  /** Declared q193: 4 rounds of label propagation over the part
    * co-purchase graph (parts sharing an order) — product-cluster
    * discovery on the same relation q107/q153 analyze. Output is one
    * (node, community) row per part in the graph.
    */
  def q193LabelPropagation(spark: SparkSession, d: String): DataFrame =
    labelPropagation(coPurchaseEdges(Tables.lineitem(spark, d)).distinct(),
      "u", "v", rounds = 4)

  val q193Sql: String = {
    val base =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |l0 AS MATERIALIZED (
        |  SELECT DISTINCT u AS node, u AS community FROM sym)""".stripMargin
    val iters = (1 to 4).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT s.u, l.community, count(*) AS cnt
         |  FROM sym s JOIN l${i - 1} l ON l.node = s.v
         |  GROUP BY s.u, l.community),
         |l$i AS MATERIALIZED (
         |  SELECT u AS node, community FROM c$i
         |  QUALIFY row_number() OVER (PARTITION BY u
         |    ORDER BY cnt DESC, community) = 1)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT node, community FROM l4""".stripMargin
  }

  /** Per-node local clustering coefficient: 2·T(v) / (deg(v)·(deg(v)−1))
    * over nodes with degree ≥ 2 — "how clique-like is each node's
    * neighborhood", the node-level refinement of [[triangleCounts]]'s
    * global census (Watts–Strogatz 1998). Nodes in no triangle score 0,
    * degree-1 nodes are excluded (the coefficient is undefined).
    *
    * @return (node, deg, n_tri, lcc): node keeps the input id type, deg
    *         and n_tri are long, lcc is double
    */
  def localClusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    clusteringFromCanon(canonicalEdges(edges, srcCol, dstCol))

  /** [[localClusteringCoefficient]] over [[canonicalEdges]]. The same two
    * routes as [[trianglesFromCanon]], chosen by the same one probe:
    *
    *   1. KERNEL — integral ids and 2|E| ≤ `maxSymRows`:
    *      [[triangleCensus]] emits (node, deg, n_tri) for every node of
    *      degree ≥ 2 in one `mapPartitions`, O(m^1.5 log m) work, no
    *      shuffle.
    *   2. FALLBACK — otherwise: a degree aggregate left-joined to the
    *      [[triangleList]] corner counts (absent counts are 0).
    *
    * Both routes end in the same `lcc` expression.
    */
  private[operators] def clusteringFromCanon(canon: DataFrame,
      maxSymRows: Long = BcastSymRows): DataFrame = {
    val census = AdjacencyCsr.collect(canon, maxSymRows) match {
      case Some(csr) => triangleCensus(canon, csr)
      case None =>
        val deg = canon.select(col("u").as("node"))
          .unionAll(canon.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        deg.where(col("deg") >= 2)
          .join(cornerCounts(triangleList(canon, "u", "v")), Seq("node"), "left")
          .select(col("node"), col("deg"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"))
    }
    census.withColumn("lcc", lit(2.0) * col("n_tri") /
      (col("deg") * (col("deg") - lit(1L))))
  }

  /** Declared q194: clustering coefficients of the HIGH-QUANTITY part
    * co-purchase graph (line items with quantity ≥ 40 — a sparser,
    * analytically distinct slice of the q107 relation; the full graph's
    * census is q107's own declared cost).
    */
  def q194ClusteringCoefficient(spark: SparkSession, d: String): DataFrame =
    localClusteringCoefficient(
      coPurchaseEdges(Tables.lineitem(spark, d).where(col("l_quantity") >= 40)),
      "u", "v")

  val q194Sql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      |  FROM li x JOIN li y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY node),
      |t AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1
      |  JOIN e e2 ON e2.u = e1.v
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |tri AS (
      |  SELECT node, count(*) AS n_tri FROM (
      |    SELECT a AS node FROM t
      |    UNION ALL SELECT b FROM t
      |    UNION ALL SELECT c FROM t)
      |  GROUP BY node)
      |SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
      |  CAST(coalesce(tri.n_tri, 0) AS BIGINT) AS n_tri,
      |  2.0 * coalesce(tri.n_tri, 0) / (d.deg * (d.deg - 1)) AS lcc
      |FROM deg d LEFT JOIN tri USING (node)
      |WHERE d.deg >= 2""".stripMargin

  /** QUALITY-AWARE dedup representative selection — the production
    * keep rule q69's min-id placeholder stands in for: per duplicate
    * cluster, keep the HIGHEST-QUALITY member, not the lowest id
    * (pretraining pipelines keep the cleanest copy of a duplicated
    * page, not the first-crawled one). Quality here is the pinned
    * (ttr, n_tokens, −doc_id) lexicographic key — type-token ratio
    * first (dirtier copies repeat themselves), length second, id as
    * the deterministic tail — carried through ONE cluster-keyed
    * `max(struct(...))` argmax, no window over the corpus.
    *
    * Scale shape: pair join (bucketed, [[Dedup.jaccardSimilarityJoin]])
    * → pointer-jumping components → one quality projection over docs →
    * one cluster-keyed aggregate + one doc-keyed join back. The
    * quality projection is map-only; everything else is the q69
    * machinery unchanged.
    *
    * @return one row per document: (doc_id, cluster_id, ttr, n_tokens,
    *         keep) — exactly one keep=true per cluster
    */
  def q202KeepBest(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val pairs = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", threshold = 0.6)
    val cc = connectedComponents(pairs, "doc_a", "doc_b")
    val toks = split(col("text"), " ")
    val quality = docs.select(col("doc_id"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr"),
      size(toks).cast("bigint").as("n_tokens"))
    val clustered = quality
      .join(cc.select(col("node").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster_id"),
        col("ttr"), col("n_tokens"))
      // two consumers: the per-cluster argmax and the final join back
      .localCheckpoint()
    val best = clustered.groupBy(col("cluster_id"))
      .agg(max(struct(col("ttr").as("q1"), col("n_tokens").as("q2"),
        (-col("doc_id")).as("q3"))).as("__best"))
      .select(col("cluster_id"), (-col("__best.q3")).as("__keep_doc"))
    clustered.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("ttr"), col("n_tokens"),
        (col("doc_id") === col("__keep_doc")).as("keep"))
  }

  val q202Sql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
      |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u),
      |q AS (
      |  SELECT doc_id,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
      |      len(string_split(text, ' ')) AS ttr,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |cl AS (
      |  SELECT q.doc_id, coalesce(c.cluster, q.doc_id) AS cluster_id,
      |    q.ttr, q.n_tokens
      |  FROM q LEFT JOIN comp c USING (doc_id)),
      |best AS (
      |  SELECT cluster_id, doc_id AS keep_doc FROM cl
      |  QUALIFY row_number() OVER (PARTITION BY cluster_id
      |    ORDER BY ttr DESC, n_tokens DESC, doc_id) = 1)
      |SELECT cl.doc_id, cl.cluster_id, cl.ttr, cl.n_tokens,
      |  cl.doc_id = best.keep_doc AS keep
      |FROM cl JOIN best USING (cluster_id)""".stripMargin

  /** k-truss edge pruning (Cohen 2008) with a FIXED round budget:
    * repeatedly drop edges supported by fewer than k−2 triangles in
    * the surviving graph. The truss is the standard cohesive-subgraph
    * upgrade over [[kCore]] — degree can be faked by one hub, triangle
    * support cannot — and the pruning round count is pinned (not
    * run-to-fixpoint) so the oracle is expressible and the cluster job
    * has a deterministic stage count; COVERAGE.md records the
    * fixed-rounds semantics.
    *
    * @return surviving edges after `rounds` prunes with the support
    *         that qualified them in the final round: (u, v, support),
    *         u < v in the input id type, support long
    */
  def ktruss(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame =
    ktrussFromCanon(canonicalEdges(edges, srcCol, dstCol), k, rounds)

  /** [[ktruss]] over [[canonicalEdges]]. Two routes, row-identical
    * (spec-pinned against each other and a local oracle), chosen by the
    * one bounded CSR collect:
    *
    *   1. KERNEL — integral ids and 2|E| ≤ `maxSymRows`: each round is
    *      one `mapPartitions` over the broadcast [[AdjacencyCsr]] that
    *      emits (u, v, support) for the edges it keeps, support =
    *      |N(u) ∩ N(v)| in O(m^1.5 log m) total work. Between rounds the
    *      survivors are collected and rebuilt into the next round's CSR
    *      — an edge subset of a graph already under the bound. The last
    *      round is the returned relation. No wedge relation, closing
    *      join or support aggregate exists.
    *   2. FALLBACK — otherwise: ONE [[triangleList]] pass for all
    *      rounds. Round r+1's graph is an edge subset of round r's, and
    *      a triangle survives into a subgraph iff all three of its edges
    *      do, so every later round's triangles are the round-1 triangles
    *      whose edges survived the latest prune: three edge semi-joins
    *      per round (broadcast under the counted [[BcastSymRows]] bound,
    *      shuffled past it), then a per-edge support aggregate. Each
    *      intermediate survivor set and triangle list is checkpointed so
    *      no round replays the previous one; the final support relation
    *      is checkpointed so the caller does not re-run the last round.
    */
  private[operators] def ktrussFromCanon(canon: DataFrame, k: Int, rounds: Int,
      maxSymRows: Long = BcastSymRows): DataFrame = {
    require(k >= 3, s"ktruss: k must be >= 3, got $k")
    require(rounds >= 1, s"ktruss: rounds must be >= 1, got $rounds")
    AdjacencyCsr.collect(canon, maxSymRows) match {
      case Some(first) =>
        def round(csr: AdjacencyCsr) =
          csrRows(canon, csr, csr.intersectWork(above = true))(
            (g, lo, hi) => g.supports(lo, hi, k - 2))
        var csr = first
        for (_ <- 1 until rounds) {
          val kept = round(csr).collect()
          csr = AdjacencyCsr.build(kept.map(_.getLong(0)), kept.map(_.getLong(1)))
        }
        csrFrame(canon, Seq("u", "v", "support"), ids = Set("u", "v"))(round(csr))
      case None => ktrussShuffle(canon, k, rounds)
    }
  }

  /** Route 2 of [[ktrussFromCanon]]. (b, c) is id-canonical (b < c) on
    * both of [[triangleList]]'s orientation branches; a is the
    * orientation minimum, at an arbitrary id position on the
    * degree-ordered branch — hence least/greatest on the a-edges.
    */
  private def ktrussShuffle(canon: DataFrame, k: Int, rounds: Int): DataFrame = {
    val pair = (x: Column, y: Column) =>
      struct(least(x, y).as("u"), greatest(x, y).as("v"))
    var surv = canon
    var tri = triangleList(canon, "u", "v")
    if (rounds > 1) tri = tri.localCheckpoint()
    var sup: DataFrame = null
    for (r <- 1 to rounds) {
      if (r > 1) {
        val nSurv = surv.count()
        def hintT(df: DataFrame): DataFrame =
          if (nSurv <= BcastSymRows) broadcast(df) else df
        tri = tri
          .join(hintT(surv.select(col("u").as("b"), col("v").as("c"))),
            Seq("b", "c"), "left_semi")
          .join(hintT(surv.select(col("u").as("su"), col("v").as("sv"))),
            least(col("a"), col("b")) === col("su") &&
              greatest(col("a"), col("b")) === col("sv"), "left_semi")
          .join(hintT(surv.select(col("u").as("tu"), col("v").as("tv"))),
            least(col("a"), col("c")) === col("tu") &&
              greatest(col("a"), col("c")) === col("tv"), "left_semi")
        if (r < rounds) tri = tri.localCheckpoint()
      }
      sup = tri
        .select(explode(array(pair(col("a"), col("b")),
          pair(col("a"), col("c")), pair(col("b"), col("c")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= k - 2)
      if (r < rounds) surv = sup.select(col("u"), col("v")).localCheckpoint()
      else sup = sup.localCheckpoint()
    }
    sup
  }

  /** Declared q209: the 4-truss (2 pruning rounds) of the q107 part
    * co-purchase graph — edges that sit in ≥ 2 triangles even after
    * their weakly-supported neighbors are removed.
    */
  def q209Ktruss(spark: SparkSession, d: String): DataFrame =
    ktruss(coPurchaseEdges(Tables.lineitem(spark, d)), "u", "v", k = 4, rounds = 2)

  val q209Sql: String =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |t1 AS (
      |  SELECT e1.a, e1.b, e2.b AS c
      |  FROM e0 e1
      |  JOIN e0 e2 ON e2.a = e1.b
      |  JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b),
      |s1 AS (
      |  SELECT u, v, count(*) AS sup FROM (
      |    SELECT a AS u, b AS v FROM t1
      |    UNION ALL SELECT a, c FROM t1
      |    UNION ALL SELECT b, c FROM t1)
      |  GROUP BY 1, 2),
      |e1g AS (SELECT u AS a, v AS b FROM s1 WHERE sup >= 2),
      |t2 AS (
      |  SELECT e1.a, e1.b, e2.b AS c
      |  FROM e1g e1
      |  JOIN e1g e2 ON e2.a = e1.b
      |  JOIN e1g e3 ON e3.a = e1.a AND e3.b = e2.b),
      |s2 AS (
      |  SELECT u, v, count(*) AS sup FROM (
      |    SELECT a AS u, b AS v FROM t2
      |    UNION ALL SELECT a, c FROM t2
      |    UNION ALL SELECT b, c FROM t2)
      |  GROUP BY 1, 2)
      |SELECT u, v, CAST(sup AS BIGINT) AS support
      |FROM s2 WHERE sup >= 2""".stripMargin

  /** Landmark-sampled harmonic closeness (Boldi–Vigna's centrality
    * under the standard landmark/pivot estimation): run ONE labeled
    * multi-source BFS from a fixed small landmark set and score every
    * node by Σ_l 1/d(l, n) over the landmarks that reach it within
    * maxHops. Exact closeness is all-pairs (hopeless at 100 TB);
    * landmarks make it |L| BFS labels carried through the SAME
    * frontier machinery as [[bfsHops]] — the frontier key is
    * (landmark, node), per-hop dedup anti-joins only the last two
    * frontiers (the undirected-parity invariant, per label).
    *
    * @param landmarks one column `lm` — node ids; KEEP SMALL (each
    *                  label multiplies frontier size)
    * @return per reached node: harmonic (6 dp), n_reached landmarks
    */
  def landmarkHarmonicCloseness(edges: DataFrame, srcCol: String,
      dstCol: String, landmarks: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1)
    val dir = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint()
    val sym = symmetric(dir, "src", "dst")
    val seed = landmarks.select(col("lm")).distinct()
      .select(col("lm"), col("lm").as("node"), lit(0).as("hops"))
      .localCheckpoint()
    var acc = List(seed)
    var frontier = seed.select(col("lm"), col("node"))
    var prevFrontier = frontier.limit(0)
    var hop = 1
    var frontierRows = frontier.count()
    while (hop <= maxHops && frontierRows > 0) {
      // frontier relations are landmark-bounded (≪ edges): broadcast
      // them into the edge scan and into both anti-joins so every hop
      // is broadcast-only. Measured at sf0.1: per-hop checkpoint +
      // broadcast is the floor (~3.4 s, dominated by per-hop job
      // scheduling on this small fixture, not data); chaining two hops
      // into one static-plan job re-computed the unchckpointed
      // frontier inside its consumer and was SLOWER (4.0 s), so each
      // hop materializes. At cluster scale the frontier passes
      // dominate and the per-hop job cost amortizes away.
      val expanded = sym.join(broadcast(frontier),
          sym("src") === frontier("node"))
        .select(col("lm"), col("dst").as("node"))
        .distinct()
      val next = expanded
        .join(broadcast(frontier), Seq("lm", "node"), "left_anti")
        .join(broadcast(prevFrontier), Seq("lm", "node"), "left_anti")
        .localCheckpoint()
      acc = next.select(col("lm"), col("node"), lit(hop).as("hops")) :: acc
      prevFrontier = frontier
      frontier = next
      frontierRows = next.count()
      hop += 1
    }
    acc.reduce(_ unionAll _)
      .where(col("hops") > 0)
      .groupBy(col("node"))
      .agg(round(sum(lit(1.0) / col("hops")), 6).as("harmonic"),
        count(lit(1)).as("n_reached"))
  }

  /** Declared q212: harmonic closeness of the q98 customer–supplier
    * bipartite graph from the landmark set {custkey < 8}, 4 hops.
    */
  def q212Closeness(spark: SparkSession, d: String): DataFrame = {
    val edges = counterpartyEdges(spark, d)
    val lms = edges.select(col("src").as("lm"))
      .where(col("lm") < 8).distinct()
    landmarkHarmonicCloseness(edges, "src", "dst", lms, maxHops = 4)
  }

  val q212Sql: String =
    """WITH RECURSIVE edges0 AS (
      |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE o_totalprice > 150000),
      |edges AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
      |lms AS (SELECT DISTINCT src AS lm FROM edges0 WHERE src < 8),
      |reach(lm, node, d) AS (
      |  SELECT lm, lm, 0 FROM lms
      |  UNION
      |  SELECT r.lm, e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.node
      |  WHERE r.d < 4),
      |m AS (SELECT lm, node, min(d) AS d FROM reach GROUP BY 1, 2)
      |SELECT node, round(sum(1.0 / d), 6) AS harmonic,
      |  CAST(count(*) AS BIGINT) AS n_reached
      |FROM m WHERE d > 0 GROUP BY node""".stripMargin
}

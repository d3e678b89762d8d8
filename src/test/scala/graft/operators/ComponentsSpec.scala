package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Connected components checked against a local union-find on the same
  * edge list — randomized graphs, a worst-case path (deep diameter,
  * where pointer jumping earns its keep), and degenerate inputs.
  */
class ComponentsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.local("components-spec", cores = 4)
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Local oracle: union-find with path compression. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val size =
      (n.toLong max (edges.flatMap(e => Seq(e._1, e._2)).max + 1)).toInt
    val parent = Array.tabulate(size)(_.toLong)
    def find(x: Long): Long = {
      var r = x
      while (parent(r.toInt) != r) r = parent(r.toInt)
      var c = x
      while (parent(c.toInt) != c) { val nx = parent(c.toInt); parent(c.toInt) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent((ra max rb).toInt) = ra min rb
    }
    // canonical label = min member id; root chosen as min in the union
    // step above, plus a final find pass to fully compress
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = spark.createDataFrame(edges).toDF("a", "b")
    Components.connectedComponents(df, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random graphs match local union-find") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 60 + trial * 30
      val m = n / 2 + rnd.nextInt(n)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val expected = unionFind(n, edges)
        assert(run(edges) === expected, s"trial $trial, n=$n, m=${edges.size}")
      }
    }
  }

  test("200-node path converges within the iteration cap") {
    val edges = (0L until 199L).map(i => (i + 1, i))
    val got = run(edges)
    assert(got.size === 200)
    assert(got.values.toSet === Set(0L), "a path is one component rooted at 0")
  }

  test("self-loops, duplicate and reversed edges are harmless") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 4L))
    val got = run(edges)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("bfsHops: exact distances on a path, early exit, unreachable absent") {
    val sp = spark; import sp.implicits._
    // path 1-2-3-4-5-6-7-8 plus isolated pair 100-101
    val edges = ((1L to 7L).map(i => (i, i + 1)) :+ (100L, 101L)).toDF("s", "t")
    val seeds = Seq(1L).toDF("node")
    val got = Components.bfsHops(edges, "s", "t", seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // maxHops beyond the diameter: loop must early-exit, all reached
    val all = Components.bfsHops(edges, "s", "t", seeds, maxHops = 50)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(all === (1L to 8L).map(i => i -> (i - 1).toInt).toMap)
    // two seeds: min distance wins; symmetric edges walk both ways
    val two = Components.bfsHops(edges, "s", "t", Seq(4L, 101L).toDF("node"), 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(two === Map(4L -> 0, 101L -> 0, 3L -> 1, 5L -> 1, 100L -> 1,
      2L -> 2, 6L -> 2))
  }

  test("bfsHops property: equals local BFS on random graphs and seed sets") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7788)
    (1 to 4).foreach { c =>
      val n = 30 + rnd.nextInt(40)
      val edges = (1 to n * 2).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val seeds = (1 to (1 + rnd.nextInt(3))).map(_ => rnd.nextInt(n).toLong).distinct
      val maxHops = 1 + rnd.nextInt(5)
      // local BFS over the symmetrized simple graph
      val adj = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      var dist = seeds.map(_ -> 0).toMap
      var frontier = seeds.toSet
      (1 to maxHops).foreach { h =>
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
          .filterNot(dist.contains)
        dist = dist ++ frontier.map(_ -> h)
      }
      val got = Components.bfsHops(
        edges.toDF("s", "t"), "s", "t", seeds.toDF("node"), maxHops)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === dist, s"case $c: n=$n seeds=$seeds maxHops=$maxHops")
    }
  }

  test("trustRank matches local biased iteration; trust decays with seed distance") {
    // path 1-2-3-4-5-6, seed {1}: the seed holds the most trust and the
    // far endpoint the least (strict per-hop decay does NOT hold near
    // the far end — its degree-1 neighbor reflects all its mass inward)
    val path = (1L to 5L).map(i => (i, i + 1))
    val sp = spark; import sp.implicits._
    val gotPath = Components.trustRank(
      path.toDF("a", "b"), "a", "b", Seq(1L).toDF("node"), iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotPath(1L) === gotPath.values.max, s"seed must hold max trust: $gotPath")
    assert(gotPath(6L) === gotPath.values.min, s"far endpoint must hold min: $gotPath")
    assert(gotPath.values.forall(_ > 0), s"trust reaches the whole component: $gotPath")

    // random graph + random seeds vs a local reference implementation
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).distinct
    val sym = (edges ++ edges.map(_.swap)).distinct
    val nodes = sym.map(_._1).distinct.sorted
    val deg = sym.groupBy(_._1).view.mapValues(_.size).toMap
    val seeds = nodes.filter(_ < 6)
    val tp = nodes.map(v =>
      v -> (if (seeds.contains(v)) 1.0 / seeds.size else 0.0)).toMap
    var trust = tp
    (1 to 8).foreach { _ =>
      trust = nodes.map { v =>
        val in = sym.collect { case (u, d) if d == v => trust(u) / deg(u) }.sum
        v -> ((1 - 0.85) * tp(v) + 0.85 * in)
      }.toMap
    }
    val got = Components.trustRank(
      edges.toDF("a", "b"), "a", "b", seeds.toDF("node"), iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === trust.keySet)
    trust.foreach { case (v, t) =>
      assert(math.abs(got(v) - t) < 1e-9, s"node $v: ${got(v)} vs $t")
    }
  }

  test("pageRank matches local power iteration; star center dominates") {
    // star: center 0 connected to 1..20
    val star = (1L to 20L).map(i => (0L, i))
    val got = {
      val df = spark.createDataFrame(star).toDF("a", "b")
      Components.pageRank(df, "a", "b", iterations = 8)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(got(0L) === got.values.max, "star center must rank highest")
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "ranks stay a distribution")

    // random graph vs a local reference implementation
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).distinct
    val sym = (edges ++ edges.map(_.swap)).distinct
    val nodes = sym.map(_._1).distinct.sorted
    val n = nodes.size
    val deg = sym.groupBy(_._1).view.mapValues(_.size).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    (1 to 8).foreach { _ =>
      rank = nodes.map { v =>
        val in = sym.collect { case (u, d) if d == v => rank(u) / deg(u) }.sum
        v -> (0.15 / n + 0.85 * in)
      }.toMap
    }
    val gotR = {
      val df = spark.createDataFrame(edges).toDF("a", "b")
      Components.pageRank(df, "a", "b", iterations = 8)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(gotR.keySet === rank.keySet)
    rank.foreach { case (v, r) =>
      assert(math.abs(gotR(v) - r) < 1e-9, s"node $v: ${gotR(v)} vs $r")
    }
  }

  test("triangleCounts: planted cliques, star has none, matches brute force") {
    val sp = spark; import sp.implicits._
    def count(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Components.triangleCounts(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 on {1,2,3,4}: each node sits in C(3,2)=3 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(count(k4) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // star center 0 with 10 leaves: no triangle; duplicate/reversed
    // edges and a self-loop must not invent any
    val star = (1L to 10L).map(0L -> _) ++ Seq((5L, 0L), (7L, 7L), (0L, 3L))
    assert(count(star) === Map.empty)
    // triangle + pendant: pendant node absent from output
    assert(count(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // random graph vs brute-force enumeration
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(120)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2)
    val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    val brute = (for {
      a <- nodes; b <- nodes if a < b && adj(a)(b)
      c <- nodes if b < c && adj(a)(c) && adj(b)(c)
    } yield Seq(a, b, c)).flatten
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(count(edges) === brute)
  }

  test("triangleCounts: hub past the out-degree gate routes to the " +
    "degree-ordered path and counts identically") {
    val sp = spark; import sp.implicits._
    // hub 0 with 4200 leaves exceeds IdOrderOutDegreeBound (2^12) under
    // id-ordering, forcing the skew fallback; the planted triangles sit
    // both OFF the hub (9001-9003) and ON it (0-1-2), so the fallback's
    // re-canonicalized closing probe is exercised for wedges whose
    // (deg,id) order disagrees with id order
    val hub = (1L to 4200L).map(0L -> _)
    val planted = Seq((9001L, 9002L), (9002L, 9003L), (9001L, 9003L), (1L, 2L))
    val edges = (hub ++ planted).toDF("a", "b")
    val got = Components.triangleCounts(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(9001L -> 1L, 9002L -> 1L, 9003L -> 1L,
      0L -> 1L, 1L -> 1L, 2L -> 1L))
    // the graph is under the kernel bound, so force the fallback (a
    // negative bound) to reach the degree-ordered path itself
    val past = Components.trianglesFromCanon(
      Components.canonicalEdges(edges, "a", "b"), maxSymRows = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(past === Map(9001L -> 1L, 9002L -> 1L, 9003L -> 1L,
      0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("q69 assigns every document a cluster and keeps exactly one per cluster") {
    val out = Components.q69DedupClusters(spark, "/root/testdata/sf0.001").collect()
    val nDocs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(out.length.toLong === nDocs) // all docs, singletons included
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, rows) =>
      assert(rows.count(_.getBoolean(2)) === 1, s"cluster $cid keep-count")
      assert(rows.map(_.getLong(0)).min === cid, s"cluster $cid rep is min doc_id")
    }
    // pairs from the similarity join land in the same cluster
    val pairs = Dedup.q34JaccardPairs(spark, "/root/testdata/sf0.001").collect()
    val label = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { p =>
      assert(label(p.getLong(0)) === label(p.getLong(1)),
        s"pair (${p.getLong(0)},${p.getLong(1)}) split across clusters")
    }
  }

  test("kCore: pendant chain peels away, planted clique survives") {
    val sp = spark; import sp.implicits._
    // K5 on 1..5 (every degree 4) + chain 5-6-7-8 hanging off it.
    // k=2: the chain peels over MULTIPLE rounds (only the endpoint 8
    // is below k at first; each removal exposes the next node), K5
    // survives with core degree 4.
    val k5 = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b))
    val chain = Seq((5L, 6L), (6L, 7L), (7L, 8L))
    val edges = (k5 ++ chain).toDF("u", "v")
    val out = Components.kCore(edges, "u", "v", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(out.values.forall(_ === 4L))
    // k above the clique degree: everything peels, empty core
    assert(Components.kCore(edges, "u", "v", k = 5).isEmpty)
    // forced shuffle semi-joins (bound -1): same cores
    val shuffled = Components.kCorePeel(edges, "u", "v", k = 2, 12, -1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled === out)
    assert(Components.kCorePeel(edges, "u", "v", k = 5, 12, -1).isEmpty)
  }

  test("kCore: duplicate/reversed/self-loop edges do not inflate degrees") {
    val sp = spark; import sp.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 1L),
      (2L, 3L), (3L, 1L)).toDF("u", "v")
    // triangle 1-2-3; all core degree 2 at k=2
    val out = Components.kCore(edges, "u", "v", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    val shuffled = Components.kCorePeel(edges, "u", "v", k = 2, 12, -1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("jaccardLinkPrediction: square diagonals score 1, adjacency excluded") {
    val sp = spark; import sp.implicits._
    // 4-cycle 1-2-3-4-1: the two diagonals (1,3) and (2,4) each share
    // both neighbors → jaccard = 2/(2+2−2) = 1; existing edges must
    // not appear as candidates
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("u", "v")
    val out = Components.jaccardLinkPrediction(edges, "u", "v", topN = 10)
      .collect()
    val byPair = out.map(r =>
      (r.getAs[Long]("node_a"), r.getAs[Long]("node_b")) ->
        (r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toMap
    assert(byPair.keySet === Set((1L, 3L), (2L, 4L)))
    assert(byPair((1L, 3L)) === ((2L, 1.0)))
    assert(byPair((2L, 4L)) === ((2L, 1.0)))
  }

  test("jaccardLinksAuto: exact-identical below the degree bound, LSH route above it") {
    val sp = spark; import sp.implicits._
    // below the bound: routed output must be ROW-IDENTICAL to the
    // exact wedge-join path (same pairs, same scores, same order)
    val small = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 5L),
      (5L, 3L)).toDF("u", "v")
    val exact = Components.jaccardLinkPrediction(small, "u", "v", topN = 10)
      .collect().toSeq
    val routed = Components.jaccardLinksAuto(small, "u", "v", topN = 10,
      maxExactDegree = 100L).collect().toSeq
    assert(routed === exact)
    // above the bound: a hub of degree 6 > 4 must flip the router to
    // the approximate path — observable because the LSH path is
    // thresholded (only pairs with jaccard >= threshold survive)
    // while the exact path returns sub-threshold pairs up to topN.
    // Two clones sharing the hub's full neighborhood score 1.0 and
    // must surface; every other pair sits below the threshold (leaf
    // pairs share {hub, clone} out of a 4-union → 0.5; pendant pairs
    // share ≤ 1 of ≥ 6) and appears ONLY on the exact path.
    val hub = (1L to 6L).map(i => (100L, i)) ++
      (1L to 6L).map(i => (101L, i)) ++
      (1L to 6L).map(i => (i, 200L + i))
    val hubDf = hub.toDF("u", "v")
    val above = Components.jaccardLinksAuto(hubDf, "u", "v", topN = 50,
      maxExactDegree = 4L, threshold = 0.7).collect()
    assert(above.map(r => (r.getAs[Long]("node_a"),
      r.getAs[Long]("node_b"))).toSet === Set((100L, 101L)))
    assert(above.head.getAs[Double]("jaccard") === 1.0)
    val exactHub = Components.jaccardLinksAuto(hubDf, "u", "v", topN = 50,
      maxExactDegree = 100L).collect()
    assert(exactHub.length > 1, "exact path keeps sub-threshold pairs")
  }

  test("jaccardLinksAuto: post-flip output is the DETERMINISTIC top-N (ordered, truncated)") {
    val sp = spark; import sp.implicits._
    // three disjoint clone fans produce 3 pairs at jaccard 1.0; with
    // topN = 2 the approx side must return the FIRST two by the
    // (jaccard desc, node_a, node_b) contract order — a bare limit()
    // would return an arbitrary partition-dependent slice (the round-11
    // latent-contract fix)
    // hub 100 (deg 6 > bound 4) + clone 101; distinct pendants keep
    // leaf-pair jaccard at 0.5. The 1.0 pairs, in contract order:
    // (10,11), (20,21), (100,101), (200,201), (300,301) — clone fans
    // whose two members share exactly their fan's neighborhood.
    val edges = (1L to 6L).map(i => (100L, i)) ++
      (1L to 6L).map(i => (101L, i)) ++
      (1L to 6L).map(i => (i, 400L + i)) ++
      Seq((200L, 10L), (200L, 11L), (201L, 10L), (201L, 11L),
        (300L, 20L), (300L, 21L), (301L, 20L), (301L, 21L))
    val out = Components.jaccardLinksAuto(edges.toDF("u", "v"), "u", "v",
      topN = 2, maxExactDegree = 4L, threshold = 0.7).collect()
    assert(out.map(r => (r.getAs[Long]("node_a"),
      r.getAs[Long]("node_b"))).toSeq === Seq((10L, 11L), (20L, 21L)))
    assert(out.forall(_.getAs[Double]("jaccard") === 1.0))
  }

  test("approxJaccardLinks: exact recall and precision vs a local all-pairs oracle") {
    val sp = spark; import sp.implicits._
    // random graphs: every non-adjacent pair with neighbor-set Jaccard
    // >= 0.7 must appear (recall), nothing else may (precision — exact
    // verification guarantees it), and scores must be the exact ratios
    val rnd = new scala.util.Random(191)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 20
      val m = 2 * n
      val raw = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      // plant near-identical neighborhoods so the >= 0.7 band is
      // exercised (random sparse graphs rarely produce them): clones
      // n+1, n+2 copy node 0's neighborhood, n+2 with one extra
      val nbrs0 = raw.collect {
        case (a, b) if a == 0L => b
        case (a, b) if b == 0L => a
      }.distinct
      val planted = nbrs0.map(v => (n + 1L, v)) ++
        (nbrs0 :+ (n + 10L)).map(v => (n + 2L, v))
      val edges = (raw ++ planted).toDF("u", "v")
      // local oracle
      val canon = (raw ++ planted).map { case (a, b) =>
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val adj = canon.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      val nodes = adj.keys.toSeq.sorted
      val expected = (for {
        i <- nodes.indices; j <- (i + 1) until nodes.size
        a = nodes(i); b = nodes(j)
        if !canon.contains((a, b))
        inter = (adj(a) & adj(b)).size
        if inter > 0
        jac = inter.toDouble / (adj(a).size + adj(b).size - inter)
        if jac >= 0.7
      } yield (a, b) -> jac).toMap
      val got = Components.approxJaccardLinks(edges, "u", "v", threshold = 0.7)
        .collect().map(r => (r.getAs[Long]("node_a"), r.getAs[Long]("node_b")) ->
          r.getAs[Double]("jaccard")).toMap
      assert(got.keySet === expected.keySet, s"trial $trial n=$n")
      expected.foreach { case (p, jac) =>
        assert(math.abs(got(p) - jac) < 1e-12, s"trial $trial pair $p")
      }
    }
  }

  test("approxJaccardLinks: identical-signature groups collapse and all surface") {
    val sp = spark; import sp.implicits._
    // 8 degree-1 nodes sharing one hub: identical singleton neighbor
    // sets → identical signatures; all 28 pairs have jaccard 1 and flow
    // through the within-group path, never the band join
    val edges = (1L to 8L).map(l => (l, 100L)).toDF("u", "v")
    val out = Components.approxJaccardLinks(edges, "u", "v", threshold = 0.7)
      .collect()
    assert(out.length === 28)
    assert(out.forall(_.getAs[Double]("jaccard") === 1.0))
    assert(out.forall(_.getAs[Long]("n_common") === 1L))
  }

  test("approxJaccardLinks: pairFilter prunes the excluded side's pairs") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    // bipartite: "docs" 1..6 each linked to "feature" nodes >= 100;
    // docs 1,2 share features exactly; features 100,101 then also share
    // their doc sets exactly — without a filter both pair kinds appear,
    // with the doc-side filter only (1,2) survives
    val edges = Seq((1L, 100L), (1L, 101L), (2L, 100L), (2L, 101L),
      (3L, 102L), (4L, 102L), (4L, 103L)).toDF("u", "v")
    val all = Components.approxJaccardLinks(edges, "u", "v", threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("node_a"), r.getAs[Long]("node_b")))
    assert(all.toSet === Set((1L, 2L), (100L, 101L)))
    val docsOnly = Components.approxJaccardLinks(edges, "u", "v",
        threshold = 0.9,
        pairFilter = col("a") < 100L && col("b") < 100L)
      .collect().map(r => (r.getAs[Long]("node_a"), r.getAs[Long]("node_b")))
    assert(docsOnly.toSet === Set((1L, 2L)))
  }

  test("approxJaccardLinks: adjacent similar pairs are excluded") {
    val sp = spark; import sp.implicits._
    // triangle 1-2-3 plus pendant 4 on both 1 and 2: nodes 1,2 are
    // ADJACENT with high overlap — must not appear; (1,2) only via
    // candidates minus adjacency
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (2L, 4L))
      .toDF("u", "v")
    val out = Components.approxJaccardLinks(edges, "u", "v", threshold = 0.1)
      .collect().map(r => (r.getAs[Long]("node_a"), r.getAs[Long]("node_b")))
    assert(!out.contains((1L, 2L)))
  }

  test("hits: shared authority wins, normalized mass, roles separate") {
    val sp = spark; import sp.implicits._
    // hubs 1,2 both point at authority 10; hub 2 also points at 11.
    // 10 collects mass from two hubs → top authority; scores L1-sum
    // to 1 within each role.
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val out = Components.hits(edges, "src", "dst", iterations = 8)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(out.keySet.map(_._1) === Set("hub", "authority"))
    val hubs = out.filter(_._1._1 == "hub")
    val auths = out.filter(_._1._1 == "authority")
    assert(math.abs(hubs.values.sum - 1.0) < 1e-12)
    assert(math.abs(auths.values.sum - 1.0) < 1e-12)
    assert(auths((("authority", 10L))) > auths((("authority", 11L))))
    // hub 2 endorses more (and better-endorsed) authorities → top hub
    assert(hubs((("hub", 2L))) > hubs((("hub", 1L))))
  }

  test("jaccardLinkPrediction: topN cut is deterministic under score ties") {
    val sp = spark; import sp.implicits._
    // star center 0 with leaves 1..6: every leaf pair shares exactly
    // {0} → jaccard 1/(1+1−1)=1 for all 15 pairs; topN=4 must take the
    // (a,b)-lexicographic first four
    val edges = (1L to 6L).map(l => (0L, l)).toDF("u", "v")
    val out = Components.jaccardLinkPrediction(edges, "u", "v", topN = 4)
      .collect().map(r => (r.getAs[Long]("node_a"), r.getAs[Long]("node_b")))
    assert(out.toSeq === Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
  }

  test("labelPropagation: matches a local synchronous simulation") {
    val sp = spark; import sp.implicits._
    def simulate(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .filter(e => e._1 != e._2).distinct
      val adj = canon.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
      var lab = adj.keys.map(n => n -> n).toMap
      for (_ <- 1 to rounds) {
        lab = adj.map { case (u, nbrs) =>
          val freq = nbrs.map(lab).groupBy(identity)
            .map { case (l, o) => (l, o.size) }
          val top = freq.values.max
          u -> freq.collect { case (l, c) if c == top => l }.min
        }
      }
      lab
    }
    val rnd = new scala.util.Random(193)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 15
      val edges = Seq.fill(3 * n)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val expected = simulate(edges, rounds = 4)
      val got = Components.labelPropagation(edges.toDF("u", "v"), "u", "v", 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial")
    }
  }

  test("labelPropagation: star oscillates deterministically (bounded rounds)") {
    val sp = spark; import sp.implicits._
    // star 0-{1..4}: round t leaves take the center's round t-1 label,
    // the center takes the min leaf label — after 4 rounds the center
    // is back to 0 and every leaf holds 1 (the pinned trajectory)
    val edges = (1L to 4L).map(l => (0L, l)).toDF("u", "v")
    val got = Components.labelPropagation(edges, "u", "v", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) === 0L)
    (1L to 4L).foreach(l => assert(got(l) === 1L))
  }

  test("localClusteringCoefficient: triangle 1, cycle 0, pendant excluded") {
    val sp = spark; import sp.implicits._
    // triangle 1-2-3 with pendant 4 on node 1
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("u", "v")
    val got = Components.localClusteringCoefficient(tri, "u", "v")
      .collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("deg"), r.getAs[Long]("n_tri"), r.getAs[Double]("lcc")))
      .toMap
    assert(got.keySet === Set(1L, 2L, 3L), "degree-1 pendant must be excluded")
    assert(got(1L) === ((3L, 1L, 1.0 / 3.0)))
    assert(got(2L) === ((2L, 1L, 1.0)))
    assert(got(3L) === ((2L, 1L, 1.0)))
    // 4-cycle: everyone degree 2, no triangles, lcc 0
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("u", "v")
    val c = Components.localClusteringCoefficient(cyc, "u", "v").collect()
    assert(c.length === 4)
    c.foreach(r => assert(r.getAs[Double]("lcc") === 0.0 &&
      r.getAs[Long]("n_tri") === 0L))
  }

  test("q202 keep rule: highest-ttr member wins regardless of id, singletons keep") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    // replicate the keep-best argmax on a hand cluster relation
    // (cluster assignment itself is pinned by the CC specs above)
    val clustered = Seq(
      // cluster 10: doc 10 dirty (low ttr), doc 42 clean, doc 50 clean
      // but shorter — 42 must win despite not being min id
      (10L, 10L, 0.40, 30L), (42L, 10L, 0.90, 30L), (50L, 10L, 0.90, 20L),
      // singleton
      (7L, 7L, 0.5, 10L)
    ).toDF("doc_id", "cluster_id", "ttr", "n_tokens")
    val best = clustered.groupBy(col("cluster_id"))
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.struct(col("ttr").as("q1"),
          col("n_tokens").as("q2"), (-col("doc_id")).as("q3"))).as("b"))
      .select(col("cluster_id"), (-col("b.q3")).as("keep_doc"))
    val keeps = clustered.join(best, Seq("cluster_id"))
      .select(col("doc_id"), (col("doc_id") === col("keep_doc")).as("keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keeps === Map(10L -> false, 42L -> true, 50L -> false, 7L -> true))
    // and the declared query end-to-end on the fixture: exactly one
    // keep per cluster, clusters non-empty, keeps have max quality key
    val out = Components.q202KeepBest(spark, "/root/testdata/sf0.001")
      .collect()
    val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, rows) =>
      assert(rows.count(_.getAs[Boolean]("keep")) === 1, s"cluster $cid")
      val kept = rows.find(_.getAs[Boolean]("keep")).get
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getAs[Double]("ttr"), r.getAs[Long]("n_tokens"),
          -r.getAs[Long]("doc_id"))
      val ord = Ordering[(Double, Long, Long)]
      assert(rows.forall(r => ord.lteq(key(r), key(kept))),
        s"cluster $cid: kept doc is not the max-quality member")
    }
  }

  test("ktruss: K4 is its own 4-truss; K4 minus an edge unravels in 2 rounds") {
    val sp = spark; import sp.implicits._
    // K4: every edge closes 2 triangles → all 6 edges survive, support 2
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b))
    val out = Components.ktruss(k4.toDF("a", "b"), "a", "b", k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("support"))
      .toMap
    assert(out.keySet === k4.toSet)
    assert(out.values.forall(_ === 2L))
    // K4 minus (3,4): only (1,2) has support 2 in round 1; with its
    // neighbors gone round 2 finds no triangles at all → empty truss
    val broken = k4.filterNot(_ == ((3L, 4L)))
    val out2 = Components.ktruss(broken.toDF("a", "b"), "a", "b",
      k = 4, rounds = 2).collect()
    assert(out2.isEmpty, s"expected empty 4-truss, got ${out2.toSeq}")
    // but round 1 alone keeps exactly (1,2) — the fixed-round contract
    val r1 = Components.ktruss(broken.toDF("a", "b"), "a", "b",
      k = 4, rounds = 1).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(r1.toSeq === Seq((1L, 2L)))
    // rounds=3: K4 is a fixpoint, so the extra rounds must be no-ops.
    // The forced-fallback call (negative bound) exercises the
    // triangle-reuse path twice (round-2 filter re-checkpointed, round-3
    // filter over it); the graph is under the kernel bound otherwise.
    val out3 = Components.ktruss(k4.toDF("a", "b"), "a", "b",
      k = 4, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("support"))
      .toMap
    assert(out3 === out)
    val past3 = Components.ktrussFromCanon(
      Components.canonicalEdges(k4.toDF("a", "b"), "a", "b"),
      k = 4, rounds = 3, maxSymRows = -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("support"))
      .toMap
    assert(past3 === out)
    // and a cascade under rounds=3: two K4s sharing edge (1,2), with k=4
    // — round 1 keeps each K4's edges (support ≥ 2: shared edge has 4),
    // fixpoint thereafter
    val twoK4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)) ++
      (for (a <- Seq(1L, 2L, 5L, 6L); b <- Seq(1L, 2L, 5L, 6L) if a < b)
        yield (a, b))
    val t3 = Components.ktruss(twoK4.distinct.toDF("a", "b"), "a", "b",
      k = 4, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t3 === twoK4.distinct.toSet)
    val pastT3 = Components.ktrussFromCanon(
      Components.canonicalEdges(twoK4.distinct.toDF("a", "b"), "a", "b"),
      k = 4, rounds = 3, maxSymRows = -1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pastT3 === twoK4.distinct.toSet)
  }

  test("jaccard link prediction: IntegerType ids take the unpacked plans, same results") {
    val sp = spark; import sp.implicits._
    // regression (round-15, ADVICE): the packed-key gates called
    // Row.getLong on the id bounds, so int-id graphs crashed instead of
    // routing to the wide fallbacks. 4-cycle again: diagonals score 1.
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 1)).toDF("u", "v")
    for (mode <- Seq("auto", "always", "never")) {
      spark.conf.set("spark.graft.jaccard.collapse", mode)
      try {
        val out = Components.jaccardLinkPrediction(edges, "u", "v",
          topN = 10).collect()
        val byPair = out.map(r =>
          (r.getInt(out.head.fieldIndex("node_a")),
            r.getInt(out.head.fieldIndex("node_b"))) ->
            (r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toMap
        assert(byPair.keySet === Set((1, 3), (2, 4)), s"mode=$mode")
        assert(byPair((1, 3)) === ((2L, 1.0)), s"mode=$mode")
        assert(byPair((2, 4)) === ((2L, 1.0)), s"mode=$mode")
      } finally spark.conf.unset("spark.graft.jaccard.collapse")
    }
  }

  test("landmarkHarmonicCloseness: path graph distances by hand; landmarks score each other") {
    val sp = spark; import sp.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    def run(lms: Seq[Long], hops: Int) =
      Components.landmarkHarmonicCloseness(path, "s", "t",
        lms.toDF("lm"), maxHops = hops)
        .collect().map(r => r.getAs[Long]("node") ->
          (r.getAs[Double]("harmonic"), r.getAs[Long]("n_reached"))).toMap
    val one = run(Seq(1L), 4)
    assert(one(2L) === ((1.0, 1L)))
    assert(one(3L) === ((0.5, 1L)))
    assert(math.abs(one(4L)._1 - 1.0 / 3) < 1e-6)
    assert(one(5L) === ((0.25, 1L)))
    assert(!one.contains(1L)) // d=0 rows excluded, landmark unscored by itself
    val two = run(Seq(1L, 5L), 4)
    assert(two(3L) === ((1.0, 2L))) // 1/2 + 1/2 from both ends
    assert(two(1L) === ((0.25, 1L))) // reached only by the OTHER landmark
    // hop budget respected: maxHops=2 never reaches distance 3+
    val short = run(Seq(1L), 2)
    assert(!short.contains(4L) && !short.contains(5L))
  }

  test("degreeAssortativity: star is exactly -1, duplicate edges harmless") {
    val sp = spark; import sp.implicits._
    // K1,3: every symmetric endpoint pair is (3,1) or (1,3) → r = −1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (0L, 1L))
      .toDF("u", "v")
    val r = Components.degreeAssortativity(star, "u", "v").collect().head
    assert(r.getAs[Long]("n_edges") === 3L)
    assert(math.abs(r.getAs[Double]("assortativity") + 1.0) < 1e-12)
  }

  test("partitionModularity: aligned labels positive, crossed labels negative") {
    val sp = spark; import sp.implicits._
    // two disjoint edges; communities matching the components:
    // per community m_c=1, d_c=2, m=2 → q_c = 1/2 − (2/4)² = 0.25
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("u", "v")
    val aligned = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("node", "comm")
    val good = Components.partitionModularity(edges, "u", "v",
      aligned, "node", "comm").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("m_within"), r.getAs[Double]("q_contrib"),
          r.getAs[Double]("q_total"))).toMap
    assert(good("A")._1 === 1L)
    assert(math.abs(good("A")._2 - 0.25) < 1e-12)
    assert(math.abs(good("A")._3 - 0.5) < 1e-12)
    // labels crossing the components: zero within-edges, Q = −0.5
    val crossed = Seq((1L, "A"), (3L, "A"), (2L, "B"), (4L, "B"))
      .toDF("node", "comm")
    val bad = Components.partitionModularity(edges, "u", "v",
      crossed, "node", "comm").collect()
    assert(math.abs(bad.head.getAs[Double]("q_total") + 0.5) < 1e-12)
  }

  test("jaccard collapse pin: identical-adjacency group path ≡ node-level wedge path") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.{col, count, greatest, least, lit}
    // random base graph with PLANTED identical-adjacency groups: each
    // clone gets exactly its template's neighbor set (clones of x are
    // never adjacent to x or each other — the structure the collapse
    // exploits), plus random singles so most groups have size 1
    val rnd = new scala.util.Random(7)
    val base = (for {
      u <- 0L until 60L
      v <- (u + 1) until 60L
      if rnd.nextDouble() < 0.12
    } yield (u, v)).toSeq
    val nbrs = base.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var nextId = 100L
    val clones = nbrs.toSeq.sortBy(_._1).take(12).flatMap { case (x, ns) =>
      val k = 1 + rnd.nextInt(3) // group sizes 2–4 incl. the template
      (0 until k).map { _ =>
        val c = nextId; nextId += 1
        ns.toSeq.sorted.map(y => (c, y))
      }.reduce(_ ++ _)
    }
    val edges = (base ++ clones).toDF("u", "v")
    val canon = edges
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    val sym = canon.unionAll(
      canon.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    for (topN <- Seq(7, 40)) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getAs[Long]("node_a"), r.getAs[Long]("node_b"),
          r.getAs[Long]("n_common"), r.getAs[Long]("deg_a"),
          r.getAs[Long]("deg_b"), r.getAs[Double]("jaccard"))).toSeq
      // both paths pinned directly (the router picks by measured wedge
      // saving, which depends on the planted group mass — the pin must
      // not depend on which way it routes)
      val collapsed = rows(
        Components.jaccardCollapsed(canon, sym, topN))
      val pinned = rows(
        Components.jaccardNodeLevel(canon, sym, deg, topN))
      assert(collapsed === pinned, s"collapse mismatch at topN=$topN")
      // the public route must equal both, whichever path it takes
      val routed = rows(
        Components.jaccardLinkPrediction(edges, "u", "v", topN))
      assert(routed === pinned, s"router mismatch at topN=$topN")
    }
  }

  test("jaccard auto probe: degenerate edge sets return empty, no crash") {
    val sp = spark; import sp.implicits._
    // all edges self-loops → canonical edge set is EMPTY; the r13 auto
    // probe aggregated it to one row of NULL sums and threw NPE. The
    // duplicate-fingerprint gate now routes node-level (0 distinct =
    // 0 nodes), which returns an empty relation like every other path.
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("u", "v")
    assert(Components.jaccardLinkPrediction(loops, "u", "v", 10)
      .count() === 0L)
    // a genuinely empty edge relation behaves the same
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(Components.jaccardLinkPrediction(empty, "u", "v", 10)
      .count() === 0L)
  }
}

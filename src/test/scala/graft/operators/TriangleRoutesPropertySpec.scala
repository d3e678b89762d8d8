package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Differential checks of the two routes of the triangle family —
  * triangle counts, local clustering coefficients and k-truss support —
  * the broadcast-CSR kernel (bound forced high) against the
  * [[Components.triangleList]] fallback (bound forced negative, which no
  * edge count meets) and a local brute-force oracle, over the seeded
  * adversarial graphs of [[RouteGraphs]] plus overlapping cliques and a
  * hub past the fallback's out-degree gate, on Int and Long ids
  * (negative ids and ids past 2³¹ included).
  */
class TriangleRoutesPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.local("triangle-routes", cores = 4)
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val Kernel = Long.MaxValue
  private val PastBound = -1L

  /** Hub 0 with 4200 leaves: its id-ordered out-degree is past the
    * fallback's 2¹² gate, so the fallback takes the degree-ordered join
    * path, and in the kernel every leaf row binary-searches the hub's
    * row. Triangles sit on the hub — at the first (0-1-2) and last
    * (0-4199-4200) entries of its row, so a search that drops either
    * end miscounts, and as a K4 (0-3-4-5) — and off it
    * (5000-5001-5002); a leaf path adds wedges that do not close.
    */
  private val hub: Seq[(Int, Int)] = (1 to 4200).map(0 -> _) ++
    Seq((1, 2), (4199, 4200), (3, 4), (4, 5), (3, 5), (5000, 5001),
      (5001, 5002), (5000, 5002)) ++ (10 to 40).map(l => (l, l + 1))

  /** Two K5s sharing the edge 3-4, a K4 hanging off node 0 and a
    * pendant triangle: supports from 1 to 5, so k = 5 prunes in stages.
    */
  private val cliques: Seq[(Int, Int)] = {
    def k(ns: Seq[Int]) = for (a <- ns; b <- ns if a < b) yield (a, b)
    k(0 to 4) ++ k(3 to 7) ++ k(Seq(0, 20, 21, 22)) ++
      Seq((7, 30), (30, 31), (7, 31))
  }

  private def adjacency(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    edges.collect { case (a, b) if a != b => (a min b, a max b) }.distinct
      .flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (x, es) => x -> es.map(_._2).toSet }

  private def common(adj: Map[Long, Set[Long]], a: Long, b: Long): Long = {
    val (s, t) = if (adj(a).size <= adj(b).size) (adj(a), adj(b))
      else (adj(b), adj(a))
    s.count(t).toLong
  }

  /** Every triangle a < b < c, enumerated from its smallest corner. */
  private def triOracle(adj: Map[Long, Set[Long]]): Map[Long, Long] =
    (for {
      (a, na) <- adj.toSeq; b <- na.toSeq if b > a
      c <- na.toSeq if c > b && adj(b)(c)
      x <- Seq(a, b, c)
    } yield x).groupBy(identity).map { case (x, xs) => x -> xs.size.toLong }

  private def lccOracle(adj: Map[Long, Set[Long]]): Seq[(Long, Long, Long, Double)] = {
    val tri = triOracle(adj)
    adj.toSeq.collect { case (x, nx) if nx.size >= 2 =>
      val d = nx.size.toLong
      val t = tri.getOrElse(x, 0L)
      (x, d, t, 2.0 * t / (d * (d - 1)))
    }.sorted
  }

  private def trussOracle(adj0: Map[Long, Set[Long]], k: Int,
      rounds: Int): Seq[(Long, Long, Long)] = {
    var adj = adj0
    var kept = Seq.empty[(Long, Long, Long)]
    for (_ <- 1 to rounds) {
      kept = (for {
        (u, nu) <- adj.toSeq; v <- nu.toSeq if v > u
        s = common(adj, u, v) if s >= k - 2
      } yield (u, v, s)).sorted
      adj = adjacency(kept.map(e => (e._1, e._2)))
    }
    kept
  }

  private def id(r: Row, i: Int): Long = r.get(i).asInstanceOf[Number].longValue

  private def schemaOf(df: DataFrame): Seq[(String, DataType)] =
    df.schema.map(f => f.name -> f.dataType)

  private def checkRoutes(idType: DataType, ids: Int => Long, seed: Int): Unit = {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(seed)
    val shapes = RouteGraphs(rnd) ++ Seq("overlapping cliques" -> cliques,
      "hub past the out-degree gate" -> hub)
    for ((name, raw) <- shapes) {
      val edges = raw.map { case (a, b) => (ids(a), ids(b)) }
      val df =
        if (idType == IntegerType)
          edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("u", "v")
        else edges.toDF("u", "v")
      val canon = Components.canonicalEdges(df, "u", "v")
      val adj = adjacency(edges)
      val ctx = s"$idType $name"

      def counts(out: DataFrame) =
        out.collect().map(r => id(r, 0) -> r.getAs[Long]("n_tri")).toMap
      val kernelTri = Components.trianglesFromCanon(canon, Kernel)
      val pastTri = Components.trianglesFromCanon(canon, PastBound)
      val wantTri = triOracle(adj)
      assert(counts(kernelTri) === wantTri, s"triangles kernel: $ctx")
      assert(counts(pastTri) === wantTri, s"triangles fallback: $ctx")
      assert(counts(Components.triangleCounts(df, "u", "v")) === wantTri,
        s"triangles auto: $ctx")
      for (out <- Seq(kernelTri, pastTri))
        assert(schemaOf(out) === Seq("node" -> idType, "n_tri" -> LongType),
          s"triangles schema: $ctx")

      def lcc(out: DataFrame) = out.collect().map(r => (id(r, 0),
        r.getAs[Long]("deg"), r.getAs[Long]("n_tri"), r.getAs[Double]("lcc")))
        .toSeq.sorted
      val kernelLcc = Components.clusteringFromCanon(canon, Kernel)
      val pastLcc = Components.clusteringFromCanon(canon, PastBound)
      val wantLcc = lccOracle(adj)
      assert(lcc(kernelLcc) === wantLcc, s"lcc kernel: $ctx")
      assert(lcc(pastLcc) === wantLcc, s"lcc fallback: $ctx")
      assert(lcc(Components.localClusteringCoefficient(df, "u", "v")) === wantLcc,
        s"lcc auto: $ctx")
      for (out <- Seq(kernelLcc, pastLcc))
        assert(schemaOf(out) === Seq("node" -> idType, "deg" -> LongType,
          "n_tri" -> LongType, "lcc" -> DoubleType), s"lcc schema: $ctx")

      def truss(out: DataFrame) = out.collect()
        .map(r => (id(r, 0), id(r, 1), r.getAs[Long]("support"))).toSeq.sorted
      for (k <- 3 to 5; rounds <- 1 to 3) {
        val kctx = s"$ctx k=$k rounds=$rounds"
        val kernel = Components.ktrussFromCanon(canon, k, rounds, Kernel)
        val past = Components.ktrussFromCanon(canon, k, rounds, PastBound)
        val want = trussOracle(adj, k, rounds)
        assert(truss(kernel) === want, s"ktruss kernel: $kctx")
        assert(truss(past) === want, s"ktruss fallback: $kctx")
        for (out <- Seq(kernel, past))
          assert(schemaOf(out) === Seq("u" -> idType, "v" -> idType,
            "support" -> LongType), s"ktruss schema: $kctx")
      }
      assert(truss(Components.ktruss(df, "u", "v", k = 4, rounds = 2)) ===
        trussOracle(adj, 4, 2), s"ktruss auto: $ctx")
    }
  }

  test("triangle routes agree on Int ids, negative ids included") {
    checkRoutes(IntegerType, i => i.toLong - 17L, seed = 107)
  }

  test("triangle routes agree on Long ids past 2^31 and below zero") {
    // order-preserving spread, as in the jaccard route spec
    checkRoutes(LongType, i => (i.toLong - 40L) * (1L << 33) + 5L, seed = 209)
  }

  test("triangle kernel: leaf rows binary-search a hub row, counts match") {
    val sp = spark; import sp.implicits._
    val canon = Components.canonicalEdges(
      hub.map { case (a, b) => (a.toLong, b.toLong) }.toDF("u", "v"), "u", "v")
    val csr = Components.AdjacencyCsr.collect(canon, Kernel).get
    val h = java.util.Arrays.binarySearch(csr.ids, 0L)
    val leaf = java.util.Arrays.binarySearch(csr.ids, 1L)
    assert(csr.deg(h) > (1 << 12))
    assert(Components.AdjacencyCsr.searches(csr.deg(leaf), csr.deg(h)))
    assert(!Components.AdjacencyCsr.searches(csr.deg(h), csr.deg(leaf)))
    // both branches of common() against the oracle, on every edge
    val adj = adjacency(hub.map { case (a, b) => (a.toLong, b.toLong) })
    val mark = new Array[Int](csr.n)
    for (u <- 0 until csr.n) {
      for (i <- csr.offsets(u) until csr.offsets(u + 1)) mark(csr.nbrs(i)) = u + 1
      for (i <- csr.offsets(u) until csr.offsets(u + 1)) {
        val v = csr.nbrs(i)
        assert(csr.common(u, v, mark) ===
          common(adj, csr.ids(u), csr.ids(v)).toInt, s"edge ${csr.ids(u)}-${csr.ids(v)}")
      }
    }
  }
}

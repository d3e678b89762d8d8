package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, greatest, least, lit}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Differential checks of the three exact Jaccard link-prediction plans —
  * the broadcast-CSR kernel, the node-level shuffle plan (the router's
  * past-the-bound branch) and its unpacked twin — and the public entry
  * point against each other and a local all-pairs oracle, over seeded
  * adversarial graphs (deterministic reruns, as in the merge property
  * checks): Int and Long ids, negative ids and ids past 2³¹, duplicate
  * and reversed edges, self-loops, empty graphs, stars, clone fans and
  * score ties at the top-N cut.
  */
class JaccardRoutesPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.local("jaccard-routes", cores = 4)
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private type Out = (Long, Long, Long, Long, Long, Double)

  /** A kernel bound no edge count meets, the empty graph's included. */
  private val PastBound = -1L

  private def canonOf(edges: DataFrame): DataFrame =
    edges.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()

  private def rows(df: DataFrame): Seq[Out] = df.collect().toSeq.map(r =>
    (r.get(0).asInstanceOf[Number].longValue,
      r.get(1).asInstanceOf[Number].longValue,
      r.getAs[Long]("n_common"), r.getAs[Long]("deg_a"),
      r.getAs[Long]("deg_b"), r.getAs[Double]("jaccard")))

  /** All non-adjacent pairs with a shared neighbor, in result order. */
  private def oracle(edges: Seq[(Long, Long)], topN: Int): Seq[Out] = {
    val canon = edges.collect {
      case (a, b) if a != b => (a min b, a max b)
    }.distinct
    val adj = canon.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    val all = for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      a = nodes(i); b = nodes(j)
      if !adj(a).contains(b)
      c = (adj(a) & adj(b)).size
      if c > 0
      da = adj(a).size.toLong; db = adj(b).size.toLong
    } yield (a, b, c.toLong, da, db, c.toDouble / (da + db - c))
    all.sortBy(o => (-o._6, o._1, o._2)).take(topN)
  }

  private def checkRoutes(idType: DataType, ids: Int => Long,
      seed: Int): Unit = {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(seed)
    for ((name, raw) <- RouteGraphs(rnd)) {
      val edges = raw.map { case (a, b) => (ids(a), ids(b)) }
      val df =
        if (idType == IntegerType)
          edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("u", "v")
        else edges.toDF("u", "v")
      val canon = canonOf(df)
      val sym = canon.unionAll(canon.select(col("v").as("u"), col("u").as("v")))
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val csr = Components.AdjacencyCsr.collect(canon, Long.MaxValue).get
      val nCand = oracle(edges, Int.MaxValue).size
      for (topN <- Seq(0, 1, 50, nCand + 7)) {
        val want = oracle(edges, topN)
        val ctx = s"$idType $name topN=$topN"
        val kernel = Components.jaccardCsr(canon, csr, topN)
        assert(rows(kernel) === want, s"kernel: $ctx")
        val nodeLevel = Components.jaccardFromCanon(canon, topN,
          Components.AdjacencyCsr.collect(canon, PastBound))
        assert(rows(nodeLevel) === want, s"past-bound node level: $ctx")
        assert(rows(Components.jaccardNodeLevelWide(canon, sym, deg, topN))
          === want, s"wide: $ctx")
        assert(rows(Components.jaccardLinkPrediction(df, "u", "v", topN))
          === want, s"auto: $ctx")
        val expected = Seq("node_a" -> idType, "node_b" -> idType,
          "n_common" -> LongType, "deg_a" -> LongType, "deg_b" -> LongType,
          "jaccard" -> DoubleType)
        for (out <- Seq(kernel, nodeLevel))
          assert(out.schema.map(f => f.name -> f.dataType) === expected,
            s"schema: $ctx")
      }
    }
  }

  test("jaccard routes agree on Int ids, negative ids included") {
    checkRoutes(IntegerType, i => i.toLong - 17L, seed = 154)
  }

  test("jaccard routes agree on Long ids past 2^31 and below zero") {
    // order-preserving spread: labels keep their order, ids span
    // negative values and values well past the 32-bit packing range
    checkRoutes(LongType, i => (i.toLong - 40L) * (1L << 33) + 5L, seed = 282)
  }

  test("jaccard routes: kernel bound counts symmetric rows") {
    val sp = spark; import sp.implicits._
    val canon = canonOf(Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v"))
    assert(Components.AdjacencyCsr.collect(canon, 6).map(_.n) === Some(4))
    assert(Components.AdjacencyCsr.collect(canon, 5) === None)
    // a negative bound refuses even the empty graph
    val none = canonOf(Seq.empty[(Long, Long)].toDF("u", "v"))
    assert(Components.AdjacencyCsr.collect(none, 0).map(_.n) === Some(0))
    assert(Components.AdjacencyCsr.collect(none, PastBound) === None)
    // non-integral ids always take the shuffle plans
    val strs = canonOf(Seq(("a", "b")).toDF("u", "v"))
    assert(Components.AdjacencyCsr.collect(strs, Long.MaxValue) === None)
  }
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** The two explicit shuffle-management patterns: salting for skewed
  * joins (result-equality pinned) and bucketing for co-located joins
  * (shuffle elimination asserted on the physical plan).
  */
class ScalePatternsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("scale-patterns", cores = 4,
      extraConf = Map(
        "spark.sql.warehouse.dir" ->
          tempDirs("graft_wh"),
        // force real shuffle joins so the bucketing effect is observable
        "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  test("salted join equals plain join on skewed data (inner and left)") {
    val sp = spark; import sp.implicits._
    // 90% of rows share one hot key
    val large = (1 to 20000).map { i =>
      (if (i % 10 != 0) 1L else (i % 50).toLong, s"payload$i")
    }.toDF("k", "payload")
    val small = (0 to 60).map(k => (k.toLong, s"dim$k")).toDF("k", "attr")

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

    val plainInner = canon(large.join(small, Seq("k"), "inner"))
    val saltedInner = canon(Skew.saltedJoin(large, small, "k", 8, "inner"))
    assert(saltedInner === plainInner)

    val smallGappy = small.where($"k" =!= 1L) // hot key unmatched
    val plainLeft = canon(large.join(smallGappy, Seq("k"), "left"))
    val saltedLeft = canon(Skew.saltedJoin(large, smallGappy, "k", 8, "left"))
    assert(saltedLeft === plainLeft)

    intercept[IllegalArgumentException] {
      Skew.saltedJoin(large, small, "k", 8, "full_outer")
    }
  }

  test("AQE splits the skewed orders join; salting bounds per-partition rows") {
    // hot-key orders fixture: ~90% of orders collapse onto one customer
    val sp2 = spark.newSession()
    sp2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sp2.conf.set("spark.sql.adaptive.enabled", "true")
    sp2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    sp2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    sp2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    sp2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8192")
    sp2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4096")
    val d = "/root/testdata/sf0.01"
    // repartition ahead of the join: AQE splits a skewed reduce partition
    // at map-output-block granularity, and the single-row-group fixture
    // file would otherwise produce exactly one map block (unsplittable)
    val hotOrders = graft.core.Tables.orders(sp2, d)
      .repartition(16)
      .withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(10)) < 9, lit(1L))
          .otherwise(pmod(col("o_orderkey"), lit(50))))
    val dim = graft.core.Tables.customer(sp2, d)
      .select(col("c_custkey"), col("c_name"))

    // 1) AQE runtime re-plan: the hot shuffle partition must be split —
    //    the executed SortMergeJoin carries the isSkewJoin marker
    val joined = hotOrders.join(dim,
      hotOrders("o_custkey") === dim("c_custkey"))
    // execute THIS DataFrame's own query execution (count() would build a
    // separate plan and leave joined's adaptive plan in its initial state)
    joined.collect()
    // the final adaptive plan nests the join inside query-stage wrappers
    // (leaf nodes to collect()), so assert on the rendered plan: a skewed
    // AQEShuffleRead is how a split shows up
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("SortMergeJoin") || planStr.contains("ShuffledHashJoin"),
      s"expected a shuffled join in:\n$planStr")
    // a split skewed partition prints as "AQEShuffleRead skewed" (or
    // "coalesced and skewed" when both optimizations applied)
    assert(planStr.contains("skewed"),
      s"AQE did not split the skewed partition:\n$planStr")

    // 2) explicit salting: the (key, salt) group sizes — which bound the
    //    join's per-partition work — must spread the hot key ~saltFactor
    //    ways, and the result must still equal the plain join
    val saltFactor = 8
    val hotCount = hotOrders.where(col("o_custkey") === 1L).count()
    val saltSizes = hotOrders
      .withColumn("__s",
        pmod(xxhash64(hotOrders.columns.map(col).toIndexedSeq: _*), lit(saltFactor)))
      .where(col("o_custkey") === 1L)
      .groupBy(col("__s")).count().collect().map(_.getLong(1))
    assert(saltSizes.length === saltFactor,
      s"hot key not spread over all salts: ${saltSizes.toSeq}")
    assert(saltSizes.max <= 2L * hotCount / saltFactor,
      s"salt skew: max ${saltSizes.max} of $hotCount rows")
    val dimKeyed = dim.withColumnRenamed("c_custkey", "o_custkey")
    val salted = Skew.saltedJoin(hotOrders, dimKeyed, "o_custkey", saltFactor,
      "inner")
    assert(salted.count() ===
      hotOrders.join(dim,
        hotOrders("o_custkey") === dim("c_custkey")).count())
  }

  test("bucketed tables join without a shuffle exchange") {
    val sp = spark; import sp.implicits._
    val a = (1 to 5000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 5000).map(i => (i.toLong, s"vb$i")).toDF("k", "vb")
    a.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_a")
    b.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_b")

    val joined = spark.table("bkt_a").join(spark.table("bkt_b"), Seq("k"))
    assert(joined.count() === 5000)

    val executed = joined.queryExecution.executedPlan
    val finalPlan = executed match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = finalPlan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty,
      s"bucketed join must not shuffle, found ${shuffles.size}:\n$finalPlan")

    // contrast: the same join on unbucketed frames does shuffle
    val unbucketed = a.join(b, Seq("k"))
    unbucketed.count()
    val ubPlan = unbucketed.queryExecution.executedPlan match {
      case ad: AdaptiveSparkPlanExec => ad.executedPlan
      case p => p
    }
    assert(ubPlan.collect { case s: ShuffleExchangeExec => s }.nonEmpty)
  }

  test("keySkewReport: hand-computed skew stats") {
    val sp = spark; import sp.implicits._
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c"))
      .toDF("k")
    val r = Skew.keySkewReport(df, "k").collect().head
    assert(r.getAs[Long]("n_rows") === 10L)
    assert(r.getAs[Long]("n_keys") === 3L)
    assert(r.getAs[Long]("max_key_rows") === 6L)
    assert(math.abs(r.getAs[Double]("top1_share") - 0.6) < 1e-12)
    assert(math.abs(r.getAs[Double]("p50_rows") - 2.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("skew_factor") - 1.8) < 1e-12)
  }
}

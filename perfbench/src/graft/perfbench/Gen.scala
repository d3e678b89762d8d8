package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generators for every input the benchmark feeds the
  * engine. Each value is a pure function of (seed, row key, salt) via
  * `xxhash64`, so the same seed yields byte-for-byte the same rows at any
  * core count, and a table can be regenerated instead of stored.
  *
  * `orders`, `lineitem` and `documents` follow the fixture schemas the
  * engine's queries are written against (column names, types and value
  * domains), with row counts scaling like the fixtures' (~4 line items
  * per order).
  */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(parts: Column*): Column = xxhash64((lit(seed) +: parts): _*)
  /** Uniform long in [0, n). */
  private def uni(n: Column, parts: Column*): Column = pmod(h(parts: _*), n)
  private def uni(n: Long, parts: Column*): Column = uni(lit(n), parts: _*)
  /** Uniform double in [0, 1). */
  private def unit(parts: Column*): Column =
    pmod(h(parts: _*), lit(1L << 30)).cast("double") / (1L << 30).toDouble
  private def pick(values: Seq[String], parts: Column*): Column =
    element_at(array(values.map(lit): _*), (uni(values.size.toLong, parts: _*) + 1).cast("int"))
  private def money(lo: Double, hi: Double, parts: Column*): Column =
    round(lit(lo) + unit(parts: _*) * (hi - lo), 2)

  private val id = col("id")

  private val day0 = to_timestamp(lit("1995-01-01 00:00:00"))

  def orders(n: Long, customers: Long): DataFrame =
    spark.range(n).select(id.as("o_orderkey"),
      uni(customers, id, lit("oc")).as("o_custkey"),
      pick(Seq("F", "O", "P"), id, lit("os")).as("o_orderstatus"),
      money(1000.0, 500000.0, id, lit("op")).as("o_totalprice"),
      timestamp_seconds(unix_seconds(day0) + uni(2404, id, lit("od")) * 86400L).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id, lit("oo"))
        .as("o_orderpriority"))

  /** 1–7 line items per order, shipped 1–121 days after the order date. */
  def lineitem(orders: DataFrame, parts: Long, suppliers: Long): DataFrame = {
    val ok = col("o_orderkey")
    val ln = col("ln")
    orders.select(ok, col("o_orderdate"),
        explode(sequence(lit(1), (uni(7, ok, lit("nl")) + 1).cast("int"))).as("ln"))
      .select(ok.as("l_orderkey"),
        uni(parts, ok, ln, lit("lp")).as("l_partkey"),
        uni(suppliers, ok, ln, lit("ls")).as("l_suppkey"),
        ln.as("l_linenumber"),
        (uni(50, ok, ln, lit("lq")) + 1).cast("double").as("l_quantity"),
        money(900.0, 105000.0, ok, ln, lit("le")).as("l_extendedprice"),
        (uni(11, ok, ln, lit("ld")) / 100.0).as("l_discount"),
        (uni(9, ok, ln, lit("lt")) / 100.0).as("l_tax"),
        pick(Seq("N", "A", "R"), ok, ln, lit("lr")).as("l_returnflag"),
        pick(Seq("O", "F"), ok, ln, lit("lst")).as("l_linestatus"),
        timestamp_seconds(unix_seconds(col("o_orderdate")) +
          (uni(121, ok, ln, lit("lsd")) + 1) * 86400L).as("l_shipdate"))
  }

  /** Word-soup documents. Every fifth doc (id ≡ 4 mod 5) is a copy of an
    * earlier base doc (id ≡ 0 mod 5) with two words replaced — word-trigram
    * Jaccard ≥ 0.78 with its parent at the 50-word minimum length — and
    * every 25th doc is an exact copy. Unrelated docs share almost no
    * trigrams, so near-duplicate verdicts sit far from a 0.6 threshold.
    */
  def documents(n: Long): DataFrame = {
    val vocab = array(Gen.Vocab.map(lit): _*)
    val nv = Gen.Vocab.size.toLong
    def word(doc: Column, i: Column): Column =
      element_at(vocab, (uni(nv, doc, i, lit("w")) + 1).cast("int"))
    def len(doc: Column): Column = (uni(40, doc, lit("len")) + 50).cast("int")
    val dup = id % 5 === 4
    val parent = when(dup, uni(floor(id / 5) + 1, id, lit("par")) * 5).otherwise(id)
    val exact = id % 25 === 24
    val mut1 = uni(len(parent).cast("long"), id, lit("m1")).cast("int")
    val mut2 = uni(len(parent).cast("long"), id, lit("m2")).cast("int")
    val toks = transform(sequence(lit(0), len(parent) - 1), i =>
      when(dup && !exact && (i === mut1 || i === mut2), word(id, i)).otherwise(word(parent, i)))
    spark.range(n).select(id.as("doc_id"), concat_ws(" ", toks).as("text"),
        when(uni(100, id, lit("lg")) < 44, lit("en"))
          .otherwise(pick(Seq("fr", "zh", "de", "es"), id, lit("lg2"))).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Titanic-shaped rows (the reference's declared CSV schema) for
    * PassengerIds [lo, hi), nullable Age/Cabin/Embarked.
    */
  def titanic(lo: Long, hi: Long, salt: String = "t"): DataFrame = {
    val s = lit(salt)
    spark.range(lo, hi).select(id.cast("int").as("PassengerId"),
      uni(2, id, s, lit("sv")).cast("int").as("Survived"),
      (uni(3, id, s, lit("pc")) + 1).cast("int").as("Pclass"),
      concat(lit("Passenger "), id).as("Name"),
      pick(Seq("male", "female"), id, s, lit("sx")).as("Sex"),
      when(uni(7, id, s, lit("an")) === 0, lit(null).cast("double"))
        .otherwise((uni(80, id, s, lit("ag")) + 1).cast("double")).as("Age"),
      uni(4, id, s, lit("ss")).cast("int").as("SibSp"),
      uni(3, id, s, lit("pa")).cast("int").as("Parch"),
      concat(lit("T"), uni(1000000, id, s, lit("tk"))).as("Ticket"),
      money(5.0, 300.0, id, s, lit("fa")).as("Fare"),
      when(uni(5, id, s, lit("cn")) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("C"), uni(200, id, s, lit("cb")))).as("Cabin"),
      when(uni(11, id, s, lit("en")) === 0, lit(null).cast("string"))
        .otherwise(pick(Seq("S", "C", "Q"), id, s, lit("em"))).as("Embarked"))
  }

  /** Writes `orders` and `lineitem` as `<dir>/<name>.parquet` at scale
    * `sf` (customer 150k·sf, part 200k·sf, supplier 10k·sf, orders
    * 1.5M·sf); returns each table's (rows, bytes).
    */
  def writeOrderTables(dir: String, sf: Double): Map[String, (Long, Long)] = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val ord = orders(n(1500000), n(150000))
    Map("orders" -> Gen.writeParquet(ord, s"$dir/orders.parquet"),
      "lineitem" -> Gen.writeParquet(lineitem(ord, n(200000), n(10000)), s"$dir/lineitem.parquet"))
  }
}

object Gen {
  val Vocab: Seq[String] = Seq(
    "a", "the", "data", "table", "row", "column", "key", "value", "query", "scan",
    "join", "merge", "sort", "hash", "group", "agg", "window", "filter", "batch",
    "stream", "spark", "part", "order", "line", "customer", "fast", "slow", "big",
    "small", "index", "file", "log", "commit", "version", "plan", "stage", "task",
    "shuffle", "cache", "node")

  /** Writes `df` as one parquet file set under `path` (overwriting) and
    * returns (rows, bytes on disk).
    */
  def writeParquet(df: DataFrame, path: String): (Long, Long) = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    val rows = df.sparkSession.read.parquet(path).count()
    (rows, Fs.treeBytes(path))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Physical-plan regression pins for the headline queries: each
  * assertion encodes "the plan we want" — the broadcast, pushdown, or
  * operator choice that makes the query survive a 100× scale-up — so a
  * Spark upgrade or refactor that silently degrades a plan (broadcast →
  * shuffle join, lost WindowGroupLimit, lost parquet pushdown) fails CI
  * instead of surfacing as a cluster bill.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs
  private val sfDir = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = GraftSession.local("plan-shape", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  /** Executed plan string after running the query (final AQE plan only —
    * the rendering appends the pre-execution "Initial Plan" section,
    * which would double-match assertions).
    */
  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("q08 star join: dimensions broadcast, fact side never broadcast") {
    val plan = executedPlan(Relational.q08RevenueByNation(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast:\n$plan")
    // the fact table (lineitem) must stay on the streamed side: no
    // broadcast exchange may carry a lineitem scan
    val broadcastSubtrees = plan.split("BroadcastExchange").drop(1)
    assert(!broadcastSubtrees.exists(_.takeWhile(_ != '\n').contains("lineitem")),
      s"lineitem must not be broadcast:\n$plan")
  }

  test("q01 aggregation is partial (map-side combine) before the exchange") {
    val plan = executedPlan(Relational.q01PricingSummary(spark, sfDir))
    // two HashAggregate levels around one shuffle = partial + final
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("q17 top-k compiles to TakeOrderedAndProject, not global sort") {
    val plan = executedPlan(Relational.q17TopK(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k plan degraded:\n$plan")
  }

  test("q14 rank window carries WindowGroupLimit pushdown") {
    val plan = executedPlan(Relational.q14Top3PerCustomer(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k filter not pushed into the window:\n$plan")
  }

  test("scans prune columns and push filters to parquet") {
    val q = graft.core.Tables.lineitem(spark, sfDir)
      .where(org.apache.spark.sql.functions.col("l_quantity") > 49)
      .select("l_orderkey", "l_quantity")
    val plan = executedPlan(q)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"filter not pushed:\n$plan")
    // ReadSchema must carry only the projected columns
    val read = plan.split("ReadSchema:")(1).takeWhile(_ != '\n')
    assert(read.contains("l_orderkey") && read.contains("l_quantity") &&
      !read.contains("l_comment"), s"column pruning lost: $read")
  }

  test("deltalike scan pushes filters and prunes files via stats") {
    val dir = tempDirs("planshape")
    val sp = spark; import sp.implicits._
    // two files with disjoint key ranges → stats prune one
    graft.tables.DeltaLikeTable.write(
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartitionByRange(2, $"k"), dir)
    val q = spark.read.format("deltalike").load(dir).where($"k" === 5L)
    assert(q.count() === 1)
    val snap = graft.tables.DeltaLog.forPath(dir).snapshot()
    val kept = graft.tables.DataSkipping.prune(snap,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 5L)))
    assert(snap.files.size === 2 && kept.size === 1,
      s"stats pruning inactive: ${snap.files.size} -> ${kept.size}")
  }

  test("ANN bucketize runs inside whole-stage codegen (no interpreted LSH math)") {
    val e = graft.core.Tables.embeddings(spark, sfDir)
    val ann = Similarity.annCosineTopK(
      e.where(org.apache.spark.sql.functions.col("vec_id") >= 5),
      e.where(org.apache.spark.sql.functions.col("vec_id") < 5),
      "vec_id", "embedding", 64)
    val plan = executedPlan(ann)
    assert(plan.contains("hyperplane_buckets"), s"fused LSH expression missing:\n$plan")
    // the operator evaluating it must carry a whole-stage-codegen marker
    // (`*(n)` prefix in the executed-plan rendering)
    val lshLines = plan.linesIterator.filter(_.contains("hyperplane_buckets")).toSeq
    assert(lshLines.nonEmpty && lshLines.forall(_.contains("*(")),
      s"LSH projection fell out of codegen:\n${lshLines.mkString("\n")}")
  }

  test("q56 decontamination: reference side broadcasts into the inverted-index join") {
    // the benchmark/reference set is small by definition — the corpus-
    // scale posting list must meet it in a map-side broadcast join, not
    // shuffle on the shingle key
    val plan = executedPlan(CorpusOps.q56Decontaminate(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"reference side not broadcast:\n$plan")
  }

  test("q45 lang-ID: train + classify share ONE trigram explode via stage reuse") {
    // the trigram explode multiplies the corpus by ~text length — it must
    // run once, with the profile and scoring branches consuming the same
    // materialized stage. Subtree canonical equality is fragile (a single
    // join-inferred IsNotNull pushed into one branch splits them), so
    // this pins the final adaptive plan to a single Generate.
    val docs = graft.core.Tables.documents(spark, sfDir)
    val df = LangId.trainAndClassify(docs, "doc_id", "text", "lang")
    val plan = executedPlan(df)
    val explodes = plan.linesIterator.count(_.contains("Generate explode"))
    assert(explodes === 1,
      s"expected exactly one trigram explode in the final plan, got $explodes:\n$plan")
  }

  test("q60 PII redaction is a shuffle-free codegen projection") {
    val plan = executedPlan(graft.operators.Privacy.q60RedactPii(spark, sfDir))
    assert(!plan.contains("Exchange"),
      s"redaction must not shuffle:\n$plan")
    assert(plan.contains("*(1) Project"),
      s"regex battery must run inside a whole-stage-codegen projection " +
        s"(the '*(n)' marker):\n$plan")
  }

  test("q62 domain cap carries WindowGroupLimit (no full domain lists)") {
    val plan = executedPlan(graft.operators.CorpusOps.q62DomainCap(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"),
      s"cap filter must push into the window:\n$plan")
  }

  test("q63 chunking is a single map-only pass (no exchange, one explode)") {
    val plan = executedPlan(graft.operators.CorpusOps.q63Chunk(spark, sfDir))
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
    val explodes = plan.linesIterator.count(_.contains("Generate"))
    assert(explodes === 1, s"expected one generator, got $explodes:\n$plan")
  }

  test("q66 sessionization: ONE user-key shuffle serves lag, cumsum, and the agg") {
    val plan = executedPlan(graft.streaming.EventStream.q66Sessionize(spark, sfDir))
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 1,
      s"lag window, cumulative-sum window and the per-session aggregate must " +
        s"reuse one hashpartitioning(user_id), got $exchanges exchanges:\n$plan")
  }

  test("q61 repetition signals: codegen n-gram build, no interpreted lambdas") {
    val plan = executedPlan(graft.operators.TextAnalysis.q61Repetition(spark, sfDir))
    // posexplode + window-lead + tagged explode: two codegen generators,
    // zero higher-order functions (transform/aggregate run interpreted
    // per element — the formulation this replaced was 4x slower)
    val explodes = plan.linesIterator.count(_.contains("Generate"))
    assert(explodes === 2,
      s"expected posexplode + tagged explode, got $explodes generators:\n$plan")
    assert(!plan.contains("transform("),
      s"no interpreted higher-order calls in the gram build:\n$plan")
    assert(plan.contains("partial_"),
      s"n-gram counting must map-side combine:\n$plan")
  }

  test("q73 span stripping: hash joins only, partial-agg doc frequency, no cartesian") {
    val plan = executedPlan(
      graft.operators.TextAnalysis.q73StripCommon(spark, sfDir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"no product joins anywhere in the pipeline:\n$plan")
    assert(plan.contains("partial_"),
      s"gram document-frequency must map-side combine:\n$plan")
  }

  test("q69/q72 connected components: every iteration is hash joins over checkpointed state") {
    val plan = executedPlan(
      graft.operators.Components.q69DedupClusters(spark, sfDir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"label propagation must stay hash-partitioned:\n$plan")
    // the loop's state is localCheckpointed: the final plan reads
    // cached/local state, not a replay of the whole iteration history
    assert(plan.contains("Scan ExistingRDD") || plan.contains("InMemory"),
      s"labels must come from checkpointed state, not recomputed lineage:\n$plan")
  }

  test("q75 mixture is a union of filtered scans — no shuffle, no RNG nondeterminism") {
    val plan = executedPlan(
      graft.operators.CorpusOps.q75Mixture(spark, sfDir))
    assert(!plan.contains("Exchange"),
      s"membership is a per-row expression; nothing may shuffle:\n$plan")
    assert(!plan.toLowerCase.contains("rand"),
      s"sampling must be hash-deterministic, not RNG:\n$plan")
  }

  test("q83 packing: ONE shard-key shuffle, greedy walk stays inside the aggregate") {
    val plan = executedPlan(graft.operators.CorpusOps.q83Pack(spark, sfDir))
    // the packing walk is sequential per shard by definition; the plan must
    // pay exactly one shuffle (group by shard) — a second exchange would
    // mean a global sort or a re-partition leaked in
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 1,
      s"expected exactly one shard-key exchange, got $exchanges:\n$plan")
    assert(!plan.contains("Sort "), // sort_array is in-row, not a Sort operator
      s"packing order comes from sort_array inside the shard, not a global sort:\n$plan")
  }

  test("q88 centroid drift: UDAF partial-aggregates map-side, corpus centroid broadcast") {
    val plan = executedPlan(
      graft.operators.Similarity.q88CentroidDrift(spark, sfDir))
    // the typed Aggregator must partial-aggregate before the exchange —
    // per-partition dim-double sums travel, not rows
    assert(plan.contains("partial_vectoravg") ||
      plan.toLowerCase.contains("partial_vectoravg$"),
      s"VectorAvg must run map-side partial aggregation:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the one-row corpus centroid must broadcast, never shuffle the labels:\n$plan")
  }

  test("q90 bigrams build via zip_with, not a per-element indexing lambda") {
    val plan = executedPlan(
      graft.operators.TextAnalysis.q90BigramLogProb(spark, sfDir))
    // an element_at(toks, i) lambda body gets split() inlined per element
    // (O(len²)/row — measured 4.3 s vs 0.8 s at sf0.1); the generator must
    // carry the zip_with form
    val gen = plan.linesIterator.filter(_.contains("Generate")).mkString("\n")
    assert(gen.contains("zip_with"),
      s"bigram generator must be the zip_with form:\n$gen")
    assert(!gen.contains("element_at"),
      s"per-element array indexing re-tokenizes per bigram:\n$gen")
  }

  test("q84 source KL: one corpus explode feeds all aggregates, totals broadcast") {
    val plan = executedPlan(graft.operators.CorpusOps.q84SourceKl(spark, sfDir))
    val explodes = plan.linesIterator.count(_.contains("Generate explode"))
    assert(explodes === 1,
      s"per-source, per-token and total counts must derive from ONE explode, got $explodes:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"source totals and the grand total are broadcast-scale:\n$plan")
  }

  test("q94 BM25: query terms broadcast into the postings join, top-k is WindowGroupLimit") {
    // the plan pins target the UNSHARED builder: the declared q94 ranks
    // over the suite-shared checkpointed scoring relation (its plan is
    // a Scan ExistingRDD + window), so the postings-build shape is
    // asserted on bm25TopK directly
    val docs = graft.core.Tables.documents(spark, sfDir)
    val plan = executedPlan(graft.operators.Retrieval.bm25TopK(
      docs.where(org.apache.spark.sql.functions.col("doc_id") >= 5),
      docs.where(org.apache.spark.sql.functions.col("doc_id") < 5),
      "doc_id", "text", k = 5))
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term side must broadcast — the corpus postings must never reshuffle per query:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k must push into the per-query window:\n$plan")
    // the corpus postings relation must stay on the streamed side
    val broadcastSubtrees = plan.split("BroadcastExchange").drop(1)
    assert(!broadcastSubtrees.exists(t =>
      t.takeWhile(_ != '\n').contains("documents") && !t.contains("doc_id < 5")),
      s"only the query side may broadcast:\n$plan")
  }

  test("q94 declared path: top-k over the shared checkpoint keeps WindowGroupLimit") {
    // the DECLARED q94 ranks over the suite-shared checkpointed scoring
    // relation — a thin ExistingRDD scan plus the rank window. Losing
    // WindowGroupLimit there would buffer every (query, doc) score per
    // query partition instead of keeping the running top-k, and the
    // unshared-builder pin above would not notice.
    val plan = executedPlan(
      graft.SparkEntry.queries("q94_bm25_topk")(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k must push into the window on the checkpoint scan:\n$plan")
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"declared q94 must rank over the shared checkpoint, not rebuild:\n$plan")
  }

  test("q95 quota sample carries WindowGroupLimit (no full stratum lists)") {
    val plan = executedPlan(graft.operators.CorpusOps.q95QuotaSample(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"),
      s"sample_rank<=quota must push into the window:\n$plan")
  }

  test("runtime bloom filter: selective dim predicate prunes the fact side pre-shuffle") {
    // the 100 TB shape: a shuffle join where the build side carries a
    // selective filter must inject bloom_filter_might_contain on the
    // probe side, so fact rows are dropped BEFORE the exchange instead
    // of being shuffled and discarded by the join. Broadcast joins are
    // excluded (the hash relation already prunes), so force a shuffle
    // join; the application-side size gate assumes multi-GB scans, so
    // zero it for the sf0.01 fixture.
    val sqlConf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> sqlConf.getOption(k))
    try {
      sqlConf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      sqlConf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      sqlConf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      sqlConf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val o = graft.core.Tables.orders(spark, sfDir)
        .where(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val l = graft.core.Tables.lineitem(spark, sfDir)
      val q = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_orderpriority"))
        .agg(org.apache.spark.sql.functions.sum(l("l_quantity")).as("qty"))
      val plan = executedPlan(q)
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected on the probe side:\n$plan")
      assert(plan.contains("bloom_filter_agg"),
        s"no bloom build aggregate on the creation side:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"test premise broken — join must be a shuffle join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => sqlConf.set(k, v)
      case (k, None) => sqlConf.unset(k)
    }
  }

  test("q99 edit join: no product joins; candidates build on distinct names") {
    val plan = executedPlan(NearDup.q99EditPairs(spark, sfDir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"deletion-neighborhood blocking must never degrade to all-pairs:\n$plan")
    // the variant self-join must be fed by an aggregate (the distinct-
    // name collapse) — duplicate-name mass stays out of the candidate space
    assert(plan.contains("HashAggregate"),
      s"distinct-name collapse missing before candidate generation:\n$plan")
  }

  test("q76 hashed-TF components run fully inside codegen (no HOF lambdas, no map assembly)") {
    val plan = executedPlan(graft.operators.TextAnalysis.q76HashingTf(spark, sfDir))
    // the array-then-explode form costs ~7x: ObjectHashAggregate map
    // assembly + interpreted aggregate/transform lambdas per row
    assert(!plan.contains("ObjectHashAggregate"),
      s"per-component output must not assemble a map/array first:\n$plan")
    assert(!plan.contains("lambdafunction"),
      s"no interpreted higher-order lambdas in the per-component path:\n$plan")
  }

  test("q164 rank lookup stays an equi-join (never a nested-loop product)") {
    // regression pin for the round-6 bug class: a join key that mixes
    // sides ("ceil(left.p * right.n) = right.r") silently demotes to
    // BroadcastNestedLoopJoin — 600k × 600k at sf0.1, a 10-minute
    // query. The global count must ride the probe side as a broadcast
    // scalar so the lookup is a plain hash/sort-merge equi-join.
    val plan = executedPlan(Relational.q164QuantileNormalize(spark, sfDir))
    // the __r = __r lookup must plan as a HASH (or sort-merge) join
    assert("(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[__r".r
      .findFirstIn(plan).isDefined,
      s"rank lookup is not an equi-join:\n$plan")
    // the only nested-loop allowed is the 1-row global-count scalar
    // broadcast; the data-scale lookup must never be one
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q172 sorted-neighborhood pairs join on integer rank, no product") {
    val plan = executedPlan(
      NearDup.q172SortedNeighborhood(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"neighborhood join must be the rank equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q191 approx links: every join is hash-keyed, no product anywhere") {
    // the whole point of the LSH variant is that NOTHING is all-pairs:
    // band buckets, member expansion, adjacency anti-join, and the
    // verify joins must all be hash equi-joins
    val plan = executedPlan(
      Components.q191ApproxJaccardLinks(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"approx-links join demoted to nested loop:\n$plan")
  }

  test("q195 nDCG ideal list prunes through WindowGroupLimit") {
    // the corpus-wide ideal ranking must not materialize the full
    // (query x corpus) relation past the per-query top-k
    val plan = executedPlan(Retrieval.q195Ndcg(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"),
      s"ideal-ranking rank filter not pushed into the window:\n$plan")
  }

  test("q196 passage dedup: the only join is the broadcast boilerplate flag") {
    // corpus blocks must stream map-side past the tiny boilerplate set:
    // one BroadcastHashJoin, and never a shuffle join of block rows
    val plan = executedPlan(Dedup.q196PassageDedup(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"boilerplate flagging must be a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"block relation must not shuffle for a join:\n$plan")
  }

  test("q208 random projection is a map-only codegen pass: no exchange, no join") {
    // the sign matrix is plan literals; the whole sketch must compile
    // to scan → project with zero shuffles — at 100 TB this is the
    // difference between a free preprocessing pass and a shuffle
    val plan = executedPlan(
      Similarity.q208RandomProjection(spark, sfDir))
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"projection must not join:\n$plan")
    // shuffle-free plans skip AQE, so codegen shows as the `*(n)`
    // stage marker on the Project itself rather than a
    // WholeStageCodegen header line
    assert(plan.contains("*(1) Project") || plan.contains("WholeStageCodegen"),
      s"the signed_dot projection must participate in codegen:\n$plan")
  }

  test("q210 duplicated spans: two partial-aggregate rounds, no join, no window") {
    val plan = executedPlan(Dedup.q210DupSpans(spark, sfDir))
    assert(!plan.contains("Join"), s"span inventory must not join:\n$plan")
    assert(!plan.contains("Window"), s"span inventory must not window:\n$plan")
    assert(plan.contains("partial_"), s"aggregates must map-side combine:\n$plan")
  }

  test("q204 CUPED: theta is a broadcast scalar, units aggregate once") {
    // the covariate adjustment must NOT shuffle units twice: one
    // user-keyed aggregate, then theta/E[X] broadcast back
    val plan = executedPlan(Relational.q204Cuped(spark, sfDir))
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"theta must broadcast, not shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no unit-relation shuffle join:\n$plan")
  }

  test("q222 kNN probe: queries broadcast, vote rank carries WindowGroupLimit") {
    val plan = executedPlan(Similarity.q222KnnLabel(spark, sfDir))
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast into the corpus scan:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"top-k rank must prune through WindowGroupLimit:\n$plan")
  }

  test("q214 consensus: every argmax prunes through WindowGroupLimit") {
    // the three rank-1 selections (modal vote, majority, best score)
    // must all push the rank filter into the window sort
    val plan = executedPlan(Labeling.q214Consensus(spark, sfDir))
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 3,
      s"rank-1 argmaxes must carry WindowGroupLimit:\n$plan")
  }

  test("q263 blocklist scan is exchange-free (pure per-row projection)") {
    val plan = executedPlan(TextAnalysis.q263Blocklist(spark, sfDir))
    assert(!plan.contains("Exchange"),
      s"blocklist audit must not shuffle:\n$plan")
    assert(plan.contains("multi_contains"),
      s"automaton expression missing from the plan:\n$plan")
  }

  test("q237 trigram probe never shuffles the corpus's full trigram relation") {
    // the pattern-restricted postings explode feeds one partial/final
    // count aggregate; the candidate relation broadcasts into the
    // verify semi-join (never a shuffled join of the corpus)
    val plan = executedPlan(Retrieval.q237TrigramSearch(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"),
      s"verify must be a broadcast semi-join:\n$plan")
  }

  test("q270 IVF-PQ: codebooks and LUT broadcast; candidates come from equi-joins") {
    val plan = executedPlan(Clustering.q270IvfPq(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"codebook joins must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") ||
      // the query-sample exact-audit leg is the ONE permitted cross
      // join (10 rows × corpus); nothing corpus × corpus
      "CartesianProduct".r.findAllIn(plan).size <= 2,
      s"unexpected cross joins:\n$plan")
  }
}

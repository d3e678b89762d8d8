package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import graft.core.{GraftSession, Harness}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // environment GATE, sampled before this JVM creates any load: above
    // ~1.5 another workload is competing for the same cores and every
    // timing in this artifact is suspect. Wait up to 10 minutes for the
    // 1-min average to decay below that, record the wait in the
    // artifact, and if it never clears run anyway with env:"dirty"
    // (per-query mins ride along as the de-noised series).
    def sampleLoad: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val gateT0 = System.nanoTime()
    val loadInitial = {
      var l = sampleLoad
      while (l > 1.5 && (System.nanoTime() - gateT0) < 600L * 1000 * 1000 * 1000) {
        System.err.println(f"[bench] loadavg $l%.2f > 1.5, waiting 20s for decay...")
        Thread.sleep(20000); l = sampleLoad
      }
      l
    }
    val gateWaitSec = (System.nanoTime() - gateT0) / 1e9
    val cores = GraftSession.defaultCores
    val spark = GraftSession.local("bench", cores,
      // ContextCleaner only GCs the driver every 30 minutes by default,
      // so a suite never triggers it: weakly-referenced shuffle files and
      // broadcast blocks from ~825 finished plans pile up in the old gen
      // until memory pressure forces long collections inside whichever
      // query runs next. 45 s keeps the driver heap bounded by live state.
      Map("spark.cleaner.periodicGC.interval" -> "45s") ++
        // scale-measurement knob: the K× scale runs (tools/scale_run.sh)
        // reuse this harness at fixed cpus, and a 30× corpus pushed
        // through a cores-sized partition count measures spill pressure,
        // not the operator. Suite runs never set it.
        sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
          .map("spark.sql.shuffle.partitions" -> _))
    // steal-robust second series: wall-clock on this box swings 2-3×
    // between identical runs (hypervisor steal is invisible to guest
    // loadavg), so every artifact also carries per-query task
    // CPU-seconds (sum of executorCpuTime over the query's tasks).
    // Attribution is by the "graftq:<name>#<rep>" JOB GROUP that
    // Harness.each gives each timed run: attribution-by-group (not by
    // fencing a global counter) means late bus events can never bleed
    // across queries. Wall-clock medians remain the blessed-table CONTRACT
    // (comparable to the DuckDB baseline); cpu-seconds are the
    // contention-robust series the 10×/30× exponent math uses.
    // KNOWN GAP: streaming rows (q276-q281) under-attribute —
    // StreamExecution overwrites the job group with its own runId on
    // its microbatch thread, so most of their task cpu lands in no
    // bucket (missed, never mis-billed; their exponents use wall).
    val cpuByKey = new ConcurrentHashMap[String, AtomicLong]()
    val stageKey = new ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null && g.startsWith("graftq:"))
          j.stageIds.foreach(s => stageKey.put(s, g))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val k = stageKey.get(t.stageId)
        if (k != null) Option(t.taskMetrics).foreach { m =>
          cpuByKey.computeIfAbsent(k, _ => new AtomicLong)
            .addAndGet(m.executorCpuTime)
        }
      }
    })
    // untimed JVM warmup on the tiny fixture: codegen compilation, shuffle
    // machinery, and parquet reader init otherwise land on whichever query
    // happens to run first (~6s of pure startup attributed to one query)
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    // one untimed ITERATIVE query too: the loop path (per-iteration
    // localCheckpoint + driver-scheduled convergence jobs) JIT-compiles
    // separately from the one-shot plans above, and its first run costs
    // 2-3x its steady state — without this, that JIT lands inside the
    // first timed run of whichever iterative query (q45/q69/q72/q81)
    // comes up first
    try SparkEntry.queries("q69_dedup_clusters")(spark, "/root/testdata/sf0.001").count()
    catch { case _: Throwable => () }
    // 3 repetitions per query, INTERLEAVED round-robin across queries
    // (rep 1 of every query, then rep 2, then rep 3): a transient load
    // spike then inflates one repetition of many queries instead of all
    // three repetitions of a few, so the per-query median stays
    // load-robust. A query that throws is recorded as an ERROR, never as
    // a timing, and is not run again.
    val reps = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val only = Harness.onlyFromEnv
    val queries = SparkEntry.queries.keys.toSeq
    val envClean = loadInitial <= 1.5
    if (!envClean)
      System.err.println(
        f"[bench] WARNING dirty environment: loadavg $loadInitial%.2f > 1.5 " +
          "at start — timings will be inflated; rerun on an idle machine")
    val loadPerRep = scala.collection.mutable.ListBuffer[Double]()
    (1 to 3).foreach { rep =>
      loadPerRep += sampleLoad
      errors ++= Harness.each(spark, queries.filterNot(errors.contains), only, rep) { name =>
        val t0 = System.nanoTime()
        // toRdd.count(), NOT Dataset.count(): count() lets Catalyst
        // prune every projected column — and even the aggregate
        // expressions inside a groupBy — so queries whose cost lives in
        // the projection would time only their scan. toRdd executes the
        // SAME adaptive plan Verify materializes, building every output
        // column, with no write machinery and no driver transfer.
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
        reps(name) = ((System.nanoTime() - t0) / 1e9) :: reps.getOrElse(name, Nil)
      }
    }
    errors.keys.foreach(reps.remove)
    // one suite-end settle for the async listener bus: every task has
    // finished (count() barriers), only their task-end EVENTS may still
    // be in flight; group-keyed attribution means a late event can only
    // be missed, never mis-billed
    Thread.sleep(2000)
    val loadEnd = sampleLoad
    // median is the headline (robust to one bad rep); min rides along in
    // the artifact so a reader can tell load noise (median >> min) from
    // a real regression (median ≈ min, both high)
    val medians = reps.collect { case (n, ts) if ts.size == 3 => n -> ts.sorted.apply(1) }
    val mins = reps.collect { case (n, ts) if ts.nonEmpty => n -> ts.min }
    // per-query cpu-second medians (see listener above); require all 3
    // reps exactly like the wall medians do, so the two series in one
    // artifact always share provenance (a 2-sample "median" would be
    // the upper-middle — biased high — and a 1-sample one is just a
    // rep, not a median)
    val cpuMedians = medians.keys.flatMap { name =>
      val vals = (1 to 3).flatMap(r =>
        Option(cpuByKey.get(s"graftq:$name#$r")).map(_.get / 1e9)).sorted
      if (vals.size == 3) Some(name -> vals(1)) else None
    }.toSeq
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def jmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    // suite-shared relation builds (SharedRelations) run once, inside
    // rep 1 of whichever payer query comes first — the median-of-3 then
    // drops that rep, so without these rows the build cost would appear
    // in NO query and the total would flatter the engine by the ~2-3 s
    // the BM25/lang-ID builds actually cost. Emit each as its own
    // "shared:<name>" entry and fold it into the total.
    val shared = graft.core.SharedRelations.buildSeconds(spark)
      .map { case (n, s) => s"shared:$n" -> s }
    val total = medians.values.sum + shared.values.sum
    val loadJson = loadPerRep.map(l => f"$l%.2f").mkString("[", ",", "]")
    val meta =
      s""""sf":${jstr(sfDir)},"cpus":$cores,"reps":3,"scheme":"interleaved",""" +
        s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
        s""""max_memory":${Runtime.getRuntime.maxMemory},""" +
        s""""offheap_size":${spark.sparkContext.getConf.getSizeAsBytes("spark.memory.offHeap.size")},""" +
        s""""loadavg_initial":${f"$loadInitial%.2f"},"gate_wait_sec":${f"$gateWaitSec%.1f"},""" +
        s""""env":${jstr(if (envClean) "clean" else "dirty")},""" +
        s""""loadavg_reps":$loadJson,"loadavg_end":${f"$loadEnd%.2f"}"""
    val cpuTotal = cpuMedians.map(_._2).sum
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(medians ++ shared)},""" +
        s""""queries_min":${jmap(mins)},"queries_cpu":${jmap(cpuMedians)},""" +
        s""""cpu_total":${f"$cpuTotal%.3f"},"errors":$errJson,$meta}"""
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench.json"), full + "\n")
    // the full summary also goes to a fixed repo-root path, so reading
    // it never depends on parsing a log
    Files.writeString(Paths.get("BENCH_SUMMARY.json"), full + "\n")
    // stdout contract: two JSON lines, each parseable on its own —
    //   1. the FULL summary (the per-query "queries" map on one line);
    //   2. LAST, a compact line that fits intact inside a 2000-char tail
    //      capture: the totals, the host shape, and "queries_file"
    //      pointers to the full object.
    // build.sbt forces StdoutOutput, so no line gets an "[info] " prefix.
    println(full)
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${medians.size},""" +
        s""""cpu_total":${f"$cpuTotal%.3f"},"errors":$errJson,$meta,""" +
        s""""queries_file":"target/bench.json","summary_file":"BENCH_SUMMARY.json"}"""
    println(compact)
    System.out.flush()
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}

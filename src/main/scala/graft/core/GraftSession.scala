package graft.core

import org.apache.spark.sql.SparkSession

/** The one session factory, mirroring the reference's session surface
  * (`/root/reference/sparkcode/titanic_example_delta.py:4-12`: builder +
  * config injection + log level). Every entry point and spec builds its
  * session here, sized to the host it runs on: `local[cores]`, shuffle
  * partitions equal to the cores (not the 200 default), AQE on so
  * runtime stats can re-plan skewed shuffles/joins — the same settings
  * that matter on a real multi-executor cluster.
  */
object GraftSession {
  /** Drop known-noisy per-row warning loggers to ERROR. The bounded
    * single-partition windows this engine uses deliberately (see
    * BASELINE.md "Single-partition window inventory") make WindowExec
    * emit `No Partition Defined` once per plan — at 190 queries × 3
    * bench reps the flood drowned the round-6 driver artifact's summary
    * JSON line (BENCH_r06 `parsed: null`). Must run AFTER
    * `setLogLevel`, which reconfigures the root logger.
    */
  def quietNoisyLoggers(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.Configurator
    import org.apache.logging.log4j.core.filter.RegexFilter
    // Suppress the specific known-noisy MESSAGES, not whole loggers at
    // ERROR — dropping org.apache.spark.rdd.MapPartitionsRDD to ERROR
    // would also hide real WARNs from that class (e.g. failed block
    // recovery on a lost checkpoint partition). Configurator.setLevel
    // first so a concrete LoggerConfig exists to hang the filter on.
    def denyMessage(logger: String, regex: String): Unit = {
      Configurator.setLevel(logger, Level.WARN)
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val lc = ctx.getConfiguration.getLoggerConfig(logger)
      // idempotent: sessions are created per spec suite, and addFilter
      // chains CompositeFilters — only install on a bare config
      if (lc.getName == logger && lc.getFilter == null) {
        lc.addFilter(RegexFilter.createFilter(
          regex, null, false, Filter.Result.DENY, Filter.Result.NEUTRAL))
        ctx.updateLoggers()
      }
    }
    // WindowExecBase warns once per plan on the deliberately-bounded
    // single-partition windows (see BASELINE.md "Single-partition window
    // inventory") — at ~275 queries × 3 bench reps the flood drowned the
    // round-6 driver artifact's summary JSON line (BENCH_r06 parsed:null).
    // The filters hang on the PACKAGE logger configs because Spark's
    // Logging names loggers after the runtime class (WindowExec /
    // MapPartitionsRDD / ...), and a message-scoped deny at the package
    // level is harmless to every other event.
    denyMessage("org.apache.spark.sql.execution.window",
      ".*No Partition Defined for Window operation.*")
    // the harness sweeps dead localCheckpoint blocks between queries;
    // each unpersist logs a "lineage has been truncated" WARN
    denyMessage("org.apache.spark.rdd",
      ".*lineage.*truncated.*")
  }

  /** `SPARK_GRAFT_CPUS` when set, else every processor the JVM sees;
    * the only reader of that variable.
    */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Off-heap execution memory: the physical memory the heap leaves, so
    * heap + off-heap fit in physical memory on any host (≤ 0 disables
    * off-heap). It is a cap, allocated only as sorts and aggregates ask,
    * and what they ask grows with their data, not with the heap: the
    * past-bound Jaccard shuffle plan sorts the whole wedge-pair
    * relation, and a sort of that relation over q154's graph at sf0.1
    * (56 M pairs) held ~6.6 GB at once at 4 cores and spilled to disk
    * under a pool of a third of the heap or of the heap itself.
    */
  def offHeapBytes: Long = {
    val physical = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize
    physical - Runtime.getRuntime.maxMemory
  }

  /** Runs `body` with `settings` set on `spark`'s session conf, then puts
    * each key back as it was — its prior value, or unset if it was not
    * set — also when `body` throws. The settings are visible to anything
    * else running on the session meanwhile; the engine's drivers run one
    * query at a time.
    */
  private[graft] def withConf[T](spark: SparkSession,
      settings: Map[String, String])(body: => T): T = {
    val set = spark.conf.getAll
    val prior = settings.keys.map(k => k -> set.get(k))
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Invariants of every session this factory builds; `extraConf` keys
    * override them:
    *
    *   - Liveness: the `local[N]` "executor" lives in the driver JVM, so
    *     a missed heartbeat is always a false positive (host steal or a
    *     long full GC stalling the in-JVM loop). The 120 s default has
    *     killed a 30-minute bench mid-artifact; the timeouts are slack.
    *   - Retention: the status store is kept even with the UI off, and
    *     by default holds 1000 plan graphs and 100k task wrappers. A
    *     session running hundreds of distinct plans accumulates them as
    *     old-gen residue that inflates GC on later heavy queries; these
    *     processes serve no UI, so keep only post-mortem history.
    *   - Off-heap: Tungsten sort/aggregation pages live off-heap, where
    *     the collector never sees them. Promoted on-heap pages churn the
    *     old gen into full-GC cascades on the shuffle-heavy rows (the
    *     past-bound Jaccard pair sort). Sized by [[offHeapBytes]].
    */
  def local(
      appName: String = "graft",
      cores: Int = defaultCores,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val offHeapMb = offHeapBytes >> 20
    val defaults = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      // streaming sort aggregates where the operator pre-sorts its input
      // on the grouping key: a no-op unless a child's ordering already
      // satisfies the grouping
      "spark.sql.execution.replaceHashWithSortAgg" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.network.timeout" -> "600s",
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.sql.ui.retainedExecutions" -> "50",
      "spark.ui.retainedJobs" -> "300",
      "spark.ui.retainedStages" -> "300",
      "spark.ui.retainedTasks" -> "20000",
      "spark.memory.offHeap.enabled" -> (offHeapMb > 0).toString,
      "spark.memory.offHeap.size" -> s"${offHeapMb max 0}m")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
    (defaults ++ extraConf).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietNoisyLoggers()
    spark
  }
}

package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean, smoke: Boolean,
    cores: Int, work: String, out: String, goldens: String, record: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m.getOrElse("smoke", "0") == "1", m("cores").toInt, m("work"), m("out"),
      m.getOrElse("goldens", ""), m.getOrElse("record", "0") == "1")
  }
}

/** One op as the closed loop saw it: wall and process-CPU seconds.
  * `phase` is the phase of its pass: "warmup", "timed" or "traced".
  */
final case class OpRec(kind: String, name: String, pass: Int, phase: String,
    wall: Double, cpu: Double, ok: Boolean, error: String)

/** One pass: wall, process CPU, the JIT compiler threads' share of that
  * CPU, and the GC and JIT times the MXBeans report.
  */
final case class PassRec(pass: Int, phase: String, wall: Double, cpu: Double, jitCpu: Double,
    gcS: Double, jitS: Double)

/** The closed loop's state: one session, one driver thread issuing ops
  * back to back, every op timed and checked, per-layer numbers gathered
  * only on traced passes.
  */
final class Harness(val args: Args) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  var pass = 0
  var phase = "warmup"
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val passes = mutable.ArrayBuffer.empty[PassRec]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Per-layer sums over the reported traced pass ... */
  val layerSums = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** ... and per-layer values reported as they are (ratios, set-up numbers). */
  val layerValues = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNow: Double = os.getProcessCpuTime / 1e9
  def gcNow: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3
  def jitNow: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** On-CPU seconds of the JIT compiler threads, from each thread's
    * `/proc/self/task/<tid>/schedstat`. HotSpot names them "C1 CompilerThre…"
    * and "C2 CompilerThre…"; the JVM runs with a fixed set of them
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so none exits and takes
    * its CPU along.
    */
  def jitCpuNow: Double = {
    def read(f: java.io.File): String =
      try new String(java.nio.file.Files.readAllBytes(f.toPath)).trim catch { case _: java.io.IOException => "" }
    Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(t => read(new java.io.File(t, "comm")).matches("C[12] CompilerThre.*"))
      .map(t => read(new java.io.File(t, "schedstat")).split(" ").headOption.filter(_.nonEmpty).map(_.toLong).getOrElse(0L))
      .sum / 1e9
  }

  def traced: Boolean = tracer != null && tracer.enabled
  /** True on the one traced pass whose numbers the run reports. */
  var collecting = false

  def add(name: String, v: Double, unit: String): Unit = if (collecting) {
    val (s, _) = layerSums.getOrElse(name, (0.0, unit))
    layerSums(name) = (s + v, unit)
  }
  def set(name: String, v: Double, unit: String): Unit = layerValues(name) = (v, unit)

  /** Timed child span inside an op; its seconds also feed `add(metric)`. */
  def timed[T](name: String, metric: String = null)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    if (metric != null) add(metric, (System.nanoTime() - t0) / 1e9, "s")
    r
  }

  /** One op of the closed loop. `body` runs the op and returns an error
    * message when its output check fails; a throw counts as failed too.
    */
  def op(kind: String, name: String)(body: => Option[String]): OpRec = {
    val c0 = cpuNow
    val t0 = System.nanoTime()
    val err = try tracer.span(s"op:$kind:$name", isOp = true)(body) catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(400))
    }
    val rec = OpRec(kind, name, pass, phase, (System.nanoTime() - t0) / 1e9, cpuNow - c0,
      err.isEmpty, err.getOrElse(""))
    ops += rec
    rec
  }

  def check(name: String, err: Option[String]): Unit = checks += ((name, err.isEmpty, err.getOrElse("")))

  private val pinned = mutable.Set.empty[Int]

  /** Materializes a harness input in memory and keeps it out of `sweep`. */
  def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val kept = df.localCheckpoint()
    pinned ++= spark.sparkContext.getPersistentRDDs.keySet -- before
    kept
  }

  /** Unpersist every cached block the last op left behind (the engine's
    * operators `localCheckpoint` freely); shared builds and pinned inputs
    * stay.
    */
  def sweep(): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinned(id) && !graft.core.SharedRelations.isShared(spark, id)) rdd.unpersist(blocking = true)
    }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val w = Workloads(args.workload)
    val h = new Harness(args)
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmStartNanos = System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L

    // set-up, once and cold, from JVM start to the first timed op: JVM,
    // session, inputs, workload state, then one untimed warm-up pass
    val s0 = System.nanoTime()
    h.spark = graft.core.GraftSession.local("perfbench", args.cores, Map(
      "spark.local.dir" -> s"${args.work}/spark-local",
      "spark.sql.warehouse.dir" -> s"${args.work}/warehouse",
      "spark.hadoop.hadoop.tmp.dir" -> s"${args.work}/hadoop-tmp",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    val s1 = System.nanoTime()
    h.tracer = new Tracer(h.spark)
    w.setup(h, s"${args.work}/setup")
    val s2 = System.nanoTime()
    if (!args.smoke) runPass(h, w, "warmup")
    val s3 = System.nanoTime()
    h.info("setup_s") = (s3 - jvmStartNanos) / 1e9
    h.set("core.jvm_start_s", (s0 - jvmStartNanos) / 1e9, "s")
    h.set("core.session_s", (s1 - s0) / 1e9, "s")
    h.set("core.inputs_s", (s2 - s1) / 1e9, "s")
    h.set("core.warmup_s", (s3 - s2) / 1e9, "s")
    h.set("jvm.setup_gc_s", h.gcNow, "s")
    h.set("jvm.setup_jit_s", h.jitNow, "s")

    // timed phase: whole passes until the time is up, at least one; a
    // traced run then traces one more pass and times one after it, so
    // its overhead is measured against the untraced passes on either side
    // (passes still speed up as the JIT catches up)
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    do runPass(h, w, "timed") while (!args.smoke && System.nanoTime() < deadline)
    if (args.trace) { runPass(h, w, "traced"); runPass(h, w, "timed") }
    w.finish(h)

    h.set("core.shared_build_s", graft.core.SharedRelations.buildSeconds(h.spark).values.sum, "s")
    h.info("spark_version") = h.spark.version
    h.info("offheap_size") = h.spark.conf.get("spark.memory.offHeap.size", "")
    h.info("offheap_enabled") = h.spark.conf.get("spark.memory.offHeap.enabled", "")
    h.info("shuffle_partitions") = h.spark.conf.get("spark.sql.shuffle.partitions", "")
    h.info("master") = h.spark.sparkContext.master
    h.info("xmx_bytes") = Runtime.getRuntime.maxMemory
    h.info("jdk") = System.getProperty("java.runtime.version")
    h.info("vm_hwm_kb") = vmHwmKb
    h.spark.stop()
    Report.write(h, args.out)
  }

  /** One whole pass of the workload; only a "traced" pass records spans
    * and listener events and feeds the per-layer numbers.
    */
  private def runPass(h: Harness, w: Workload, phase: String): Unit = {
    h.pass += 1
    h.phase = phase
    w.preparePass(h)
    h.tracer.enabled = phase == "traced"
    h.collecting = h.tracer.enabled
    val rec = if (h.tracer.enabled) Some(h.tracer.attach()) else None
    val c0 = h.cpuNow; val jc0 = h.jitCpuNow; val g0 = h.gcNow; val j0 = h.jitNow
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    w.pass(h)
    val wall = (System.nanoTime() - t0) / 1e9
    h.passes += PassRec(h.pass, phase, wall, h.cpuNow - c0, h.jitCpuNow - jc0, h.gcNow - g0, h.jitNow - j0)
    h.tracer.detach()
    if (h.collecting) rec.foreach(r => Layers.fromRecorder(h, r, startMs))
    w.checkPass(h)
    h.tracer.enabled = false
    h.collecting = false
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L) finally src.close()
  }
}

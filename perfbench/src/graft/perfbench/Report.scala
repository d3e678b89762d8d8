package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Turns one traced pass's listener record into per-layer sums. */
object Layers {
  private val PhaseMetric = Map(
    "analysis" -> "plan.analysis_s", "optimization" -> "plan.optimizer_s", "planning" -> "plan.physical_s")

  def fromRecorder(h: Harness, r: Recorder, passStartMs: Long): Unit = {
    val opSpans = h.tracer.spans.filter(s => s.op == s.id && s.start >= passStartMs).toSeq
    val byKind = opSpans.groupBy(_.name.split(":")(1))
    var worst = 0.0
    opSpans.foreach { s =>
      val jobs = Intervals.clip(r.jobs.toSeq, s.start, s.end)
      val plans = r.plans.toSeq.map(p => (p._1, math.max(p._2, s.start), math.min(p._3, s.end)))
        .filter(p => p._3 > p._2)
      val planMs = plans.map(p => p._3 - p._2).sum
      val jobMs = Intervals.length(jobs)
      // the op's wall splits into planning, job-covered time and the driver
      // gap (covered by neither); the split is a partition only as far as
      // planning phases and jobs do not overlap, and the overlap is reported
      val coveredMs = Intervals.length(jobs ++ plans.map(p => (p._2, p._3)))
      val gapMs = s.ms - coveredMs
      plans.groupBy(_._1).foreach { case (ph, ps) =>
        PhaseMetric.get(ph).foreach(m => h.add(m, ps.map(p => p._3 - p._2).sum / 1e3, "s"))
      }
      h.add("sched.job_s", jobMs / 1e3, "s")
      h.add("sched.driver_gap_s", gapMs / 1e3, "s")
      if (s.ms > 0) worst = math.max(worst, (planMs + jobMs - coveredMs).toDouble / s.ms)

      val c = r.counters.getOrElse(s.id, new OpCounters)
      val Array(_, kind, name) = s.name.split(":", 3)
      if (kind == "graph") {
        h.add(s"operators.$name.wall_s", s.ms / 1e3, "s")
        h.add(s"operators.$name.cpu_s", c.taskCpuNs / 1e9, "s")
        h.add(s"operators.$name.jobs", c.jobs.toDouble, "count")
      }
      if (kind == "trigger") {
        val n = byKind(kind).size.toDouble
        h.add("streaming.jobs_per_trigger", c.jobs / n, "count")
        h.add("streaming.index_bytes_read", c.inputBytes / n, "bytes")
      }
    }
    h.set("trace.plan_job_overlap_max", worst, "ratio")

    // counters of every job in the pass, attributed or not
    val all = r.counters.values
    def sum(f: OpCounters => Long) = all.map(f).sum.toDouble
    h.add("sched.jobs", sum(_.jobs), "count")
    h.add("sched.stages", sum(_.stages), "count")
    h.add("sched.tasks", sum(_.tasks), "count")
    h.add("sched.task_delay_s", sum(_.schedDelayMs) / 1e3, "s")
    h.add("exchange.write_bytes", sum(_.shuffleWriteBytes), "bytes")
    h.add("exchange.read_bytes", sum(_.shuffleReadBytes), "bytes")
    h.add("exchange.records", sum(_.shuffleRecords), "count")
    h.add("exchange.fetch_wait_s", sum(_.fetchWaitMs) / 1e3, "s")
    h.add("exec.task_cpu_s", sum(_.taskCpuNs) / 1e9, "s")
    h.add("exec.task_run_s", sum(_.taskRunMs) / 1e3, "s")
    h.add("exec.gc_s", sum(_.gcMs) / 1e3, "s")
    h.add("exec.spill_bytes", sum(_.spillBytes), "bytes")
    h.add("scan.bytes", sum(_.inputBytes), "bytes")
    h.add("scan.rows", sum(_.inputRecords), "count")
    val peak = (all.map(_.peakMemBytes) ++ Seq(0L)).max.toDouble
    h.set("exec.peak_mem_bytes", math.max(peak, h.layerValues.get("exec.peak_mem_bytes").map(_._1).getOrElse(0.0)), "bytes")
  }
}

/** Writes the run's raw record (ops, passes, checks, layer numbers, host
  * and session shape) and its spans, for `run.py` to summarise.
  */
object Report {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(h: Harness, out: String): Unit = {
    val layers = h.layerSums ++ h.layerValues
    val doc = Map(
      "workload" -> h.args.workload,
      "seed" -> h.args.seed,
      "ops" -> h.ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "pass" -> o.pass,
        "phase" -> o.phase, "wall" -> o.wall, "cpu" -> o.cpu, "ok" -> o.ok, "error" -> o.error)),
      "passes" -> h.passes.map(p => Map("pass" -> p.pass, "phase" -> p.phase, "wall" -> p.wall,
        "cpu" -> p.cpu, "jit_cpu" -> p.jitCpu, "gc" -> p.gcS, "jit" -> p.jitS)),
      "checks" -> h.checks.map { case (n, ok, e) => Map("name" -> n, "ok" -> ok, "error" -> e) },
      "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "self_s" -> h.tracer.selfMs.map { case (k, ms) => k -> ms / 1e3 },
      "info" -> h.info)
    JFiles.write(Paths.get(out), json.writeValueAsBytes(doc))
    val spans = h.tracer.spans.map(s => json.writeValueAsString(Map("id" -> s.id, "op" -> s.op,
      "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end)))
    JFiles.write(Paths.get(out + ".spans.jsonl"), spans.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }
}

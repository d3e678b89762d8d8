#!/usr/bin/env python3
"""Benchmark entry point: builds the engine with the harness, runs one
workload as a closed loop in one JVM, checks every op's output, and
prints each metric by name with its unit. The last stdout line is the
result object: {"correct", "attempted", "failed", "metrics"}.

Usage (from the repository root):
  python3 perfbench/run.py --workload graph_jaccard --seed 1 --seconds 15 --trace 0
  python3 perfbench/run.py --workload pipeline_dag --smoke       # small inputs, a few ops
Artifacts go to .bench_out/ only.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import summary  # noqa: E402

OUT = ".bench_out"
WORKLOADS = ["graph_jaccard", "pipeline_dag"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def host_sample():
    """loadavg and cumulative steal jiffies from /proc/stat."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"loadavg": load, "steal_jiffies": int(cpu[8]) if len(cpu) > 8 else 0}


def heap_gb():
    """A quarter of physical memory, between 2 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return max(2, min(4, kb // (4 * 1024 * 1024)))


def run_jvm(args, work, raw, cores, xmx):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{xmx}g", f"-Xmx{xmx}g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:NewRatio=1", "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--smoke", "1" if args.smoke else "0",
              "--record", "1" if args.record else "0", "--cores", str(cores),
              "--work", work, "--out", raw, "--goldens", os.path.join(HERE, "goldens.tsv")])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # two malloc arenas: native (off-heap, netty) memory from many task
        # threads otherwise fragments into per-thread arenas, and peak RSS
        # swings with how the threads happened to land
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(raw):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: JVM run failed ({rc})")


def summarise(raw, spec, trace, cores):
    timed = [p for p in raw["passes"] if p["phase"] == "timed"]
    walls = [o["wall"] for o in raw["ops"] if o["phase"] == "timed"]
    failed = sum(1 for o in raw["ops"] if not o["ok"]) + sum(1 for c in raw["checks"] if not c["ok"])
    attempted = len(raw["ops"]) + len(raw["checks"])
    e2e = {
        "setup_s": (raw["info"]["setup_s"], "s"),
        "wall_s": (summary.median([p["wall"] for p in timed]), "s"),
        # the program's own CPU: process CPU minus the JIT compiler threads'
        "cpu_s": (summary.median([p["cpu"] - p["jit_cpu"] for p in timed]), "s"),
        "op_p50_s": (summary.median(walls), "s"),
        "peak_rss_mb": (raw["info"]["vm_hwm_kb"] / 1024.0, "MB"),
    }
    extra = {
        "jit_cpu_s": (summary.median([p["jit_cpu"] for p in timed]), "s"),
        "op_p90_s": (summary.tail(walls, 90), "s"),
        "failed_frac": (summary.failed_frac(attempted, failed), "ratio"),
        "ops": (len(walls), "count"),
        "passes": (len(timed), "count"),
    }
    layers = {k: (v["value"], v["unit"]) for k, v in raw["layers"].items()}
    if trace:  # the second-to-last pass is the traced one
        traced = raw["passes"][-2]
        layers["jvm.gc_s"] = (traced["gc"], "s")
        layers["jvm.jit_s"] = (traced["jit"], "s")
        layers["jvm.jit_cpu_s"] = (traced["jit_cpu"], "s")
        run_s = layers.get("exec.task_run_s", (0.0, "s"))[0]
        layers["exec.busy_frac"] = (run_s / (cores * traced["wall"]), "ratio")
        # overhead against the untraced passes just before and after it
        plain = (raw["passes"][-3]["wall"] + raw["passes"][-1]["wall"]) / 2
        layers["trace.overhead_s"] = (traced["wall"] - plain, "s")
        layers["trace.overhead_frac"] = (layers["trace.overhead_s"][0] / plain, "ratio")
    pool = layers if trace else e2e
    metrics = {m["name"]: {"value": (pool.get(m["name"]) or (0.0,))[0] or 0.0, "unit": m["unit"]}
               for m in spec["per_layer" if trace else "end_to_end"]}
    return attempted, failed, e2e, extra, layers, metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--smoke", action="store_true", help="small inputs (graph at sf0.001), a handful of ops")
    ap.add_argument("--record", action="store_true", help="record goldens (see record_goldens.py)")
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    build.build()
    cores = len(os.sched_getaffinity(0))
    xmx = heap_gb()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}"
    work = os.path.abspath(os.path.join(OUT, tag))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")

    before = host_sample()
    t0 = time.time()
    run_jvm(args, work, raw_path, cores, xmx)
    after = host_sample()
    with open(raw_path) as f:
        raw = json.load(f)
    attempted, failed, e2e, extra, layers, metrics = summarise(raw, spec, args.trace, cores)

    raw["info"].update({"nproc": cores, "xmx": f"{xmx}g", "host_before": before, "host_after": after,
                        "steal_jiffies_during": after["steal_jiffies"] - before["steal_jiffies"],
                        "process_s": time.time() - t0})
    artifact = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "smoke": args.smoke, "attempted": attempted, "failed": failed,
                "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **extra}.items()},
                "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in sorted(layers.items())},
                "failures": [o for o in raw["ops"] if not o["ok"]] + [c for c in raw["checks"] if not c["ok"]],
                "checks": raw["checks"], "self_s": raw["self_s"], "info": raw["info"],
                "ops": raw["ops"], "passes": raw["passes"]}
    with open(os.path.join(OUT, tag + ".json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for name in os.listdir(work):  # keep the record, drop the generated tables
        if not args.record and name not in ("raw.json", "raw.json.spans.jsonl", "jvm.log"):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} nproc={cores} xmx={xmx}g "
          f"spark={raw['info'].get('spark_version')} jdk={raw['info'].get('jdk')} "
          f"offheap={raw['info'].get('offheap_size')} load={before['loadavg'][0]}->{after['loadavg'][0]} "
          f"steal={after['steal_jiffies'] - before['steal_jiffies']}")
    shown = layers if args.trace else {**e2e, **extra}
    for k, (v, u) in sorted(shown.items()) if args.trace else shown.items():
        print(f"{k} {'n/a' if v is None else round(v, 6)} {u}")
    for fl in artifact["failures"][:10]:
        print(f"FAILED {fl.get('kind', 'check')} {fl['name']}: {fl['error']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

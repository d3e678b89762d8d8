#!/usr/bin/env python3
"""Runs each workload once per seed and reports, for every end-to-end
metric, the median and the inter-quartile spread as a share of the
median, next to the metric's bound from BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/spread.py --seeds 1-10 [--workload pipeline_dag ...]
Writes .bench_out/spread-<workload>.json.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import summary  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in args.workload or [x["name"] for x in spec["workloads"]]:
        values = {m: [] for m in bounds}
        for seed in args.seeds:
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                check=True, stdout=subprocess.PIPE, text=True).stdout
            result = json.loads(out.strip().splitlines()[-1])
            if not result["correct"]:
                print(f"{w} seed {seed}: {result['failed']} of {result['attempted']} failed")
            for m, v in result["metrics"].items():
                values[m].append(v["value"])
        report = {}
        for m, xs in values.items():
            report[m] = {"median": summary.median(xs), "spread": summary.spread(xs),
                         "bound": bounds[m], "values": xs}
            flag = "" if m == "setup_s" or report[m]["spread"] < bounds[m] / 3 else "  <-- above bound/3"
            print(f"{w} {m}: median {report[m]['median']:.4f} spread {report[m]['spread']:.4f} "
                  f"(bound {bounds[m]}){flag}")
        with open(os.path.join(".bench_out", f"spread-{w}.json"), "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Records the graph workload's goldens (row count + canonical digest per
query) into perfbench/goldens.tsv, after cross-checking each engine
result against DuckDB running the query's oracle SQL
(`SparkEntry.oracleSql`) over the same generated parquet files.

Usage (from the repository root): python3 perfbench/record_goldens.py
Re-run it only when the generator, the scale or a query's declared
output changes; a golden that DuckDB disagrees with is not written.
"""
import json
import math
import os
import subprocess
import sys
import threading

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(HERE, "goldens.tsv")
ORACLE_TIMEOUT_S = 600


def canon(rows, cols):
    """Rows sorted, columns sorted by name, floats rounded to 1e-6."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cv(v):
        if isinstance(v, float):
            return "f:nan" if math.isnan(v) else "f:%.6f" % round(v, 6)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cv(x) for x in v) + "]"
        return repr(v)

    return sorted(tuple(cv(r[i]) for i in order) for r in rows)


def oracle(con, sql):
    """Runs `sql`, or returns None if DuckDB cannot finish in time."""
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        rel = con.sql(sql)
        return rel.fetchall(), [c.lower() for c in rel.columns]
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def record(smoke):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "graph_jaccard",
           "--seed", "1", "--seconds", "1", "--trace", "0", "--record"] + (["--smoke"] if smoke else [])
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    work = os.path.join(".bench_out", "graph_jaccard-seed1-trace0" + ("-smoke" if smoke else ""))
    with open(os.path.join(work, "raw.json")) as f:
        info = json.load(f)["info"]
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{info['dir']}/{t}.parquet/*.parquet')")
    lines = []
    for q, digest in info["digests"].items():
        rec = os.path.join(work, "record")
        got_rel = con.sql(f"SELECT * FROM read_parquet('{rec}/{q}/*.parquet')")
        got = canon(got_rel.fetchall(), [c.lower() for c in got_rel.columns])
        with open(os.path.join(rec, q + ".sql")) as f:
            exp = oracle(con, f.read())
        if exp is None:
            print(f"UNCHECKED {q}: DuckDB did not finish in {ORACLE_TIMEOUT_S}s")
        elif canon(*exp) != got:
            print(f"MISMATCH {q}: engine {len(got)} rows vs DuckDB {len(exp[0])}; golden not written")
            continue
        else:
            print(f"PASS {q} ({len(got)} rows)")
        lines.append(f"graph_jaccard@{info['input']['sf']}\t{q}\t{digest}")
    return lines


def main():
    lines = record(smoke=False) + record(smoke=True)
    with open(GOLDENS, "w") as f:
        f.write("# workload@sf\tquery\trows:digest (written by record_goldens.py)\n")
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Runs every workload through run.py, untraced and traced.

    python3 perfbench/suite.py --seed 1   # every metric of every workload, sf0.1
    python3 perfbench/suite.py --smoke             # the benchmark's own smoke check

The smoke check runs each workload at sf0.001 for one short pass (a traced
run: one traced and one untraced pass) with seeds 1 and 2. It passes when
every run has error_rate 0 and prints every metric of BENCHMARK.json plus
the workload's own, and when the second seed changes the inputs and the
operation order but not the metric names.
"""
import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from run import WORKLOADS  # noqa: E402

INGEST_ONLY = ["ingest_p50_s", "search_p50_s", "compact_s", "stored_bytes_per_input_byte",
               "sink.write_s", "sink.delete_s", "sink.compact_s", "sink.search_s",
               "sink.classify_s", "sink.files_written", "sink.bytes_written",
               "sink.write_amp", "sink.files_live", "sink.bytes_live",
               "sink.jobs_per_call", "streaming.batches", "streaming.batch_s",
               "streaming.add_batch_s", "streaming.overhead_s", "streaming.rows_per_batch"]


def run(workload, seed, seconds, trace, sf):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--sf", str(sf)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.splitlines()
    out = {"rc": r.returncode, "stderr": r.stderr, "lines": lines, "metrics": {}, "env": {}}
    for line in lines:
        m = re.match(r"metric (\S+) (\S+) (\S+)$", line)
        if m:
            out["metrics"][m.group(1)] = float(m.group(2))
        m = re.match(r"env (\S+) (.*)$", line)
        if m:
            out["env"][m.group(1)] = m.group(2)
    return out


def smoke():
    e2e, layer = metrics.declared()
    problems = []
    runs = {}
    for w in WORKLOADS:
        for seed in (1, 2):
            r = runs[w, seed] = run(w, seed, 0, 1, 0.001)
            want = set(e2e) | set(layer) | {"error_rate", "trace.overhead_s"}
            if w == "index_ingest":
                want |= set(INGEST_ONLY)
            missing = sorted(want - set(r["metrics"]))
            print(f"{w} seed {seed}: rc {r['rc']} error_rate "
                  f"{r['metrics'].get('error_rate')} metrics {len(r['metrics'])}")
            if r["rc"] != 0 or r["metrics"].get("error_rate") != 0.0:
                problems.append(f"{w} seed {seed}: rc {r['rc']}, error_rate "
                                f"{r['metrics'].get('error_rate')}\n{r['stderr'][-1500:]}")
            if missing:
                problems.append(f"{w} seed {seed}: metrics not printed: {missing}")
        a, b = runs[w, 1], runs[w, 2]
        if a["env"].get("inputs") == b["env"].get("inputs"):
            problems.append(f"{w}: seeds 1 and 2 generated the same inputs")
        # stocks_sma runs one query, so only its inputs can differ by seed
        if w != "stocks_sma" and a["env"].get("op_order") == b["env"].get("op_order"):
            problems.append(f"{w}: seeds 1 and 2 ran the same operation order")
        if set(a["metrics"]) != set(b["metrics"]):
            problems.append(f"{w}: metric names differ between seeds")
    for p in problems:
        print("SMOKE FAIL " + p)
    print("smoke: " + ("FAIL" if problems else "ok"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    if a.smoke:
        sys.exit(smoke())
    rc = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            r = run(w, a.seed, 20, trace, 0.1)
            print(f"== {w} trace {trace} (exit {r['rc']})")
            for line in r["lines"]:
                if line.startswith(("check", "metric")):
                    print("  " + line)
            if r["rc"] != 0:
                sys.stdout.write(r["stderr"][-1500:])
                rc = 1
    sys.exit(rc)


if __name__ == "__main__":
    main()

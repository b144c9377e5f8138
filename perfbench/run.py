#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client on one Spark session.

    python3 perfbench/run.py --workload stocks_battery --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists and what it moves):
  stocks_battery  10 of the 11 stocks headline queries, warm session caches
  stocks_sma      the 11th, sma, alone: it fails its oracle on about half
                  the seeds (an engine defect), so it is kept apart
  corpus_batch    the 10 corpus headline queries, caches evicted every pass
  index_ingest    stored dedup + IVF-PQ indexes: build, streaming ingest
                  beside stored lookups, takedown delete, compaction

The run builds the engine from source if needed (perfbench/build.py),
generates the inputs from the seed (perfbench/gen.py), runs the client
(perfbench/scala), checks the outputs, and prints one metric per line
followed by a final JSON line. --trace 0 reports the end-to-end metrics;
--trace 1 reports the per-layer metrics and the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("stocks_battery", "stocks_sma", "corpus_batch", "index_ingest")

# Input sizes at scale factor sf (the engine's test-data convention:
# sf0.1 = 600k line items, 5000 documents, 2000 embeddings).
def sizes(workload, sf):
    s = {"lineitem": max(int(6_000_000 * sf), 600),
         "documents": max(int(50_000 * sf), 500),
         "embeddings": max(int(20_000 * sf), 500)}
    if workload == "index_ingest":
        s.update(base_docs=max(int(4000 * sf), 40), batches=1,
                 batch_docs=max(int(400 * sf), 10), batch_vecs=max(int(1000 * sf), 25),
                 takedown=6)
    return s


# The query workloads' outputs are checked on a smaller input from the same
# seed: the DuckDB oracles of ema_macd (a recursion over every date) and
# dedup_clusters (a recursive connected-components walk) take ~230 s each
# at sf0.1. The 240 days span 1998-07-01, merge_upsert's cut-over date.
CHECK_SIZES = {"lineitem": 12000, "documents": 500, "embeddings": 500,
               "dates": ("1998-03-02", 240)}

# Scale each workload runs at unless --sf is given.
DEFAULT_SF = {"stocks_battery": 0.1, "stocks_sma": 0.1, "corpus_batch": 0.01, "index_ingest": 0.01}

JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def inputs(name, seed, size):
    """Generated once per seed, sizes and generator version."""
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read() + repr(sorted(size.items())).encode()).hexdigest()[:12]
    d = os.path.join(build.BUILD, "data", f"{name}-seed{seed}-{key}")
    done = os.path.join(d, ".done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, size)
        open(done, "w").close()
    return d


def digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_client(cp, workload, data, check, work, seconds, seed, trace):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed heap: with a growing one, peak RSS follows GC timing more
    # than the program's memory use
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
           + ["-cp", cp, "perfbench.Harness", workload, data, check, work,
              str(seconds), str(seed), str(trace), str(cores())])
    log = os.path.join(work, "client.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=170)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    with open(log) as f:
        text = f.read()
    if rc != 0:
        sys.stderr.write(text[-4000:])
        sys.exit(f"perfbench: client exited with {rc}")
    # the exceptions of operations that raised (the record keeps only ok=false)
    for line in text.splitlines():
        if line.startswith("[perfbench] ") and " failed: " in line:
            sys.stderr.write(line + "\n")
    with open(os.path.join(work, "record.json")) as f:
        return json.load(f)


def oracle_check(check, work):
    """Compare each query's output with its DuckDB oracle through the
    repository's scripts/check_oracle.py; returns {query: ok}."""
    script = os.path.join(ROOT, "scripts", "check_oracle.py")
    r = subprocess.run([sys.executable, script, check, os.path.join(work, "results")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    verdicts = {}
    for line in r.stdout.splitlines():
        m = re.match(r"\[(\S+?)\]\s+(\S+?):", line)
        if m:
            verdicts[m.group(2)] = m.group(1) in ("OK", "OK*")
            if not verdicts[m.group(2)]:
                sys.stderr.write(line + "\n")
        elif line.startswith("    "):
            sys.stderr.write(line + "\n")
    return verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="input scale factor (default per workload)")
    a = ap.parse_args()
    sf = a.sf if a.sf is not None else DEFAULT_SF[a.workload]

    cp = build.build()
    data = inputs(a.workload, a.seed, sizes(a.workload, sf))
    check = inputs("check", a.seed, CHECK_SIZES)
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        load0 = loadavg()
        rec = run_client(cp, a.workload, data, check, work, a.seconds, a.seed, a.trace)
        load1 = loadavg()
        checks = [(c["name"], c["ok"], c["detail"]) for c in rec["checks"]]
        if a.workload != "index_ingest":
            names = sorted({o["name"] for o in rec["ops"] if o["kind"] == "query"})
            verdicts = oracle_check(check, work)
            checks += [(f"oracle:{q}", verdicts.get(q, False), "DuckDB oracle")
                       for q in names]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res = metrics.compute(rec, checks, a.trace == 1)
    env = dict(rec["env"], seed=a.seed, sf=sf, load1_before=load0, load1_after=load1,
               inputs=digest(data), check_inputs=digest(check), op_order=res["op_order"])
    for k in sorted(env):
        print(f"env {k} {env[k]}")
    for name, ok, detail in checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for name, n in sorted(res["thrown"].items()):
        print(f"check FAIL op:{name}: raised in {n} call(s), exception on stderr")
    for name, (value, unit) in res["printed"].items():
        print(f"metric {name} {value} {unit}")
    # an operation that raised fails the run even where no check covers it
    correct = (res["failed"] == 0 and not res["thrown"]
               and all(ok for _, ok, _ in checks))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in res["reported"].items()}}))
    if not correct:
        sys.stderr.write("perfbench: OUTPUT CHECK FAILED\n")
        sys.exit(1)


if __name__ == "__main__":
    main()

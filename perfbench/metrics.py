"""Turns the client's record (perfbench/scala/Recorder.scala) into metrics.

End-to-end metrics use untraced passes only. Per-layer metrics use the
traced passes of a --trace 1 run and are given per traced pass unless
they are ratios, medians or peaks.
"""
import hashlib
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def declared():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def union_ms(intervals):
    """Total length covered by a set of [t0, t1] intervals."""
    total, end = 0.0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def clip(iv, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in iv if b > lo and a < hi]


def pairs(xs):
    """Sums of consecutive pairs: one batch is a docs drop plus a vector
    drop; one lookup round is a classify plus a search."""
    return [xs[i] + xs[i + 1] for i in range(0, len(xs) - 1, 2)]


def end_to_end(rec):
    passes = [p for p in rec["passes"] if not p["traced"]]
    ids = {p["pass"] for p in passes}
    ops = [o for o in rec["ops"] if o["pass"] in ids and o["counted"]]
    lat = [(o["t1"] - o["t0"]) / 1e3 for o in ops]
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append((o["t1"] - o["t0"]) / 1e3)
    m = {
        "setup_s": ((rec["first_timed_ms"] - rec["jvm_start_ms"]) / 1e3, "s"),
        "pass_s": (median([(p["t1"] - p["t0"]) / 1e3 for p in passes]), "s"),
        "op_p50_s": (median(lat), "s"),
        "op_p90_s": (p90(lat), "s"),
        # every operation kind weighs the same, however long it runs
        "op_geomean_s": (statistics.geometric_mean([median(v) for v in by_name.values()]), "s"),
        "ops_per_run": (len(lat), "count"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "live_mem_mb": (max(p["heap_mb"] + p["non_heap_mb"] for p in passes), "MB"),
    }
    if rec["workload"] == "index_ingest":
        def kind(k):
            return [(o["t1"] - o["t0"]) / 1e3 for o in ops if o["kind"] == k]
        per_pass = {}
        for o in ops:
            if o["kind"] == "compact":
                per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + (o["t1"] - o["t0"]) / 1e3
        live = [b for p, b in zip(rec["passes"], rec["extra"]["live_index_bytes"])
                if p["pass"] in ids]
        m.update({
            "ingest_p50_s": (median(pairs(kind("ingest"))), "s"),
            "search_p50_s": (median(pairs(kind("search"))), "s"),
            "compact_s": (median(list(per_pass.values())), "s"),
            "stored_bytes_per_input_byte":
                (median(live) / rec["extra"]["live_input_bytes"], "ratio"),
        })
    return m


def per_layer(rec):
    traced = [p for p in rec["passes"] if p["traced"]]
    untraced = [p for p in rec["passes"] if not p["traced"]]
    n = max(len(traced), 1)
    ids = {p["pass"] for p in traced}
    ops = [o for o in rec["ops"] if o["pass"] in ids]
    spans = rec["spans"]
    jobs = [(j["t0"], j["t1"]) for j in rec["jobs"]]
    stages = rec["stages"]
    cores = rec["env"]["cores"]

    def layer_spans(layer, prefix=""):
        return [s for s in spans if s["layer"] == layer and s["name"].startswith(prefix)]

    def total_s(ss):
        return sum(s["t1"] - s["t0"] for s in ss) / 1e3 / n

    # self time: a span's duration minus what its child spans and the
    # Spark jobs inside it cover; job time belongs to the exec layer
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    self_s = {}
    for s in spans:
        inner = clip(children.get(s["id"], []) + jobs, s["t0"], s["t1"])
        own = s["t1"] - s["t0"] - union_ms(inner)
        self_s[s["layer"]] = self_s.get(s["layer"], 0.0) + own
    job_union = union_ms(jobs)
    self_s["exec"] = self_s.get("exec", 0.0) + job_union

    driver_only = sum(o["t1"] - o["t0"] - union_ms(clip(jobs, o["t0"], o["t1"])) for o in ops)
    qes = rec["qes"]
    tb = rec["tables"]
    run_ms = sum(s["run_ms"] for s in stages)
    skews = [s["task_max_ms"] / s["task_mean_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_mean_ms"] > 0]

    m = {
        "tables.calls": (tb["calls"] / n, "count"),
        "tables.call_s": (total_s(layer_spans("tables")), "s"),
        "tables.handle_hit_ratio": (tb["hits"] / tb["calls"] if tb["calls"] else 0.0, "ratio"),
        "tables.cached_mb": (max(tb["cached_mb"], default=0.0), "MB"),
        "queries.build_s": (total_s(layer_spans("queries")), "s"),
        "queries.analysis_s": (sum(q["analysis_ms"] for q in qes) / 1e3 / n, "s"),
        "queries.optimization_s": (sum(q["optimization_ms"] for q in qes) / 1e3 / n, "s"),
        "queries.planning_s": (sum(q["planning_ms"] for q in qes) / 1e3 / n, "s"),
        "exec.jobs": (len(jobs) / n, "count"),
        "exec.stages": (len(stages) / n, "count"),
        "exec.tasks": (sum(s["tasks"] for s in stages) / n, "count"),
        "exec.driver_only_s": (driver_only / 1e3 / n, "s"),
        "exec.run_s": (run_ms / 1e3 / n, "s"),
        "exec.cpu_s": (sum(s["cpu_ns"] for s in stages) / 1e9 / n, "s"),
        "exec.gc_s": (sum(s["gc_ms"] for s in stages) / 1e3 / n, "s"),
        "exec.busy_share": (run_ms / (cores * job_union) if job_union else 0.0, "ratio"),
        "exec.sched_wait_s": (sum(s["wait_ms"] for s in stages) / 1e3 / n, "s"),
        "exec.shuffle_write_mb": (sum(s["shuffle_write"] for s in stages) / 1e6 / n, "MB"),
        "exec.shuffle_read_mb": (sum(s["shuffle_read"] for s in stages) / 1e6 / n, "MB"),
        "exec.spill_mb": (sum(s["spill"] for s in stages) / 1e6 / n, "MB"),
        "exec.input_mb": (sum(s["input"] for s in stages) / 1e6 / n, "MB"),
        "exec.max_task_skew": (median(skews), "ratio"),
        "exec.failed_tasks": (sum(s["failed"] for s in stages), "count"),
    }
    for layer in ("tables", "queries", "exec", "sink", "streaming"):
        m[f"{layer}.self_s"] = (self_s.get(layer, 0.0) / 1e3 / n, "s")

    if rec["workload"] == "index_ingest":
        sink_calls = layer_spans("sink")
        in_sink = [j for j in jobs
                   if any(s["t0"] <= j[0] <= s["t1"] for s in sink_calls)]
        fs = [f for f in rec["sink_fs"] if rec["ops"][f["op"]]["pass"] in ids]
        last = {}
        for f in fs:
            last[(rec["ops"][f["op"]]["pass"], "dedup" if "Dedup" in f["name"] else "ivf")] = f
        written = sum(f["bytes_written"] for f in fs)
        live_bytes = sum(f["bytes_live"] for f in last.values())
        prog = [p for p in rec["progress"] if p["rows"] > 0]
        m.update({
            "sink.write_s": (total_s(layer_spans("sink", "Sink.write")), "s"),
            "sink.delete_s": (total_s(layer_spans("sink", "Sink.deleteFrom")), "s"),
            "sink.compact_s": (total_s(layer_spans("sink", "Sink.compact")), "s"),
            "sink.search_s": (total_s(layer_spans("sink", "Sink.search")), "s"),
            "sink.classify_s": (total_s(layer_spans("sink", "Sink.classify")), "s"),
            "sink.files_written": (sum(f["files_written"] for f in fs) / n, "count"),
            "sink.bytes_written": (written / n, "B"),
            "sink.write_amp": (written / live_bytes if live_bytes else 0.0, "ratio"),
            "sink.files_live": (sum(f["files_live"] for f in last.values()) / n, "count"),
            "sink.bytes_live": (live_bytes / n, "B"),
            "sink.jobs_per_call": (len(in_sink) / len(sink_calls) if sink_calls else 0.0, "ratio"),
            "streaming.batches": (len(prog) / n, "count"),
            "streaming.batch_s": (median([p["trigger_ms"] / 1e3 for p in prog]), "s"),
            "streaming.add_batch_s": (median([p["add_batch_ms"] / 1e3 for p in prog]), "s"),
            "streaming.overhead_s":
                (median([(p["trigger_ms"] - p["add_batch_ms"]) / 1e3 for p in prog]), "s"),
            "streaming.rows_per_batch": (median([p["rows"] for p in prog]), "count"),
        })
    m["trace.overhead_s"] = (
        median([(p["t1"] - p["t0"]) / 1e3 for p in traced])
        - median([(p["t1"] - p["t0"]) / 1e3 for p in untraced]), "s")
    m["trace.passes"] = (len(traced), "count")
    return m


def compute(rec, checks, trace):
    """Returns attempted/failed counts, the operations that raised (name →
    count, warm-up passes included), every computed metric (printed) and
    the declared ones for this mode (reported)."""
    e2e_units, layer_units = declared()
    failed_checks = {n.split(":", 1)[1] for n, ok, _ in checks if not ok and n.startswith("oracle:")}
    timed = [o for o in rec["ops"] if o["counted"] and o["pass"] >= 0]
    failed = sum(1 for o in timed if not o["ok"] or o["name"] in failed_checks)
    failed += sum(1 for n, ok, _ in checks if not ok and not n.startswith("oracle:"))
    attempted = len(timed) + sum(1 for n, _, _ in checks if not n.startswith("oracle:"))
    printed = end_to_end(rec)
    printed["error_rate"] = (failed / attempted if attempted else 1.0, "ratio")
    wanted = e2e_units
    if trace:
        printed.update(per_layer(rec))
        wanted = layer_units
    missing = [k for k in wanted if k not in printed]
    if missing:
        raise SystemExit(f"perfbench: metrics not computed for this workload: {missing}")
    order = ",".join(o["name"] for o in rec["ops"])
    thrown = {}
    for o in rec["ops"]:
        if not o["ok"]:
            thrown[o["name"]] = thrown.get(o["name"], 0) + 1
    return {
        "attempted": attempted, "failed": failed, "thrown": thrown, "printed": printed,
        "reported": {k: (printed[k][0], wanted[k]) for k in wanted},
        "op_order": hashlib.sha256(order.encode()).hexdigest()[:16],
    }

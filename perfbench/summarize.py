#!/usr/bin/env python3
"""Per-layer numbers from a traced run.

A traced run of the benchmark JVM writes ``result.json`` (every op's interval) and
``trace.json`` (Spark jobs with task totals, query executions with their
planning phases and lake scan counts, streaming progress, and lake log
counters per op). Events are assigned to the op whose interval overlaps
them most; with one client thread this is exact. Times are sums over the
traced ops (the second timed cycle of the workload's mix), so counters
repeat for a seed.

Usage: python3 perfbench/summarize.py <run output dir>
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402
from workloads import CYCLE_OPERATOR, OPERATOR_QUERIES  # noqa: E402

PHASES = ("analysis", "optimization", "planning")
STREAM_PHASES = {"plan_ms": "queryPlanning", "add_batch_ms": "addBatch", "get_batch_ms": "getBatch",
                 "latest_offset_ms": "latestOffset", "wal_commit_ms": "walCommit",
                 "commit_offsets_ms": "commitOffsets"}
JOB_SUMS = ("stages", "tasks", "failed_tasks", "task_run_ms", "sched_delay_ms")
JOB_BYTES = ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes")

# (name, unit, better) for every per-layer metric a traced run prints
PER_LAYER = (
    [("api.execute_ms", "ms", "lower")]
    + [(f"spark.plan.{p}_ms", "ms", "lower") for p in PHASES]
    + [("spark.plan.executions", "count", "lower"), ("driver.self_ms", "ms", "lower"),
       ("spark.exec.jobs", "count", "lower")]
    + [(f"spark.exec.{k}", "count" if k in ("stages", "tasks", "failed_tasks") else "ms", "lower")
       for k in JOB_SUMS]
    + [("spark.exec.job_ms", "ms", "lower"), ("spark.exec.job_overlap_ms", "ms", "higher")]
    + [(f"spark.exec.{k}", "bytes", "lower") for k in JOB_BYTES]
    + [(f"lake.log.{k}", "count", "lower") for k in ("commits", "commit_attempts", "conflicts", "duplicates",
                                                     "entries", "checkpoints", "entry_reads")]
    + [("lake.log.useful_ratio", "ratio", "higher"), ("lake.log.bytes", "bytes", "lower"),
       ("lake.log.snapshot_probe_ms", "ms", "lower")]
    + [(f"lake.files.{k}", "count", "lower") for k in ("scanned", "live", "added", "removed", "dv_rows", "orphans")]
    + [("lake.files.pruned", "count", "higher"), ("lake.files.prune_ratio", "ratio", "higher"),
       ("lake.files.bytes_scanned", "bytes", "lower"), ("lake.files.bytes_added", "bytes", "lower"),
       ("lake.files.bytes_removed", "bytes", "lower")]
    + [("streaming.batches", "count", "lower"), ("streaming.input_rows", "count", "higher")]
    + [(f"streaming.{k}", "ms", "lower") for k in STREAM_PHASES]
    + [("streaming.state_rows", "count", "lower"), ("streaming.state_bytes", "bytes", "lower")]
    + [(f"operators.{CYCLE_OPERATOR}.ms", "ms", "lower"),
       (f"operators.{CYCLE_OPERATOR}.shuffle_bytes", "bytes", "lower")]
    + [("trace.ops", "count", "higher"), ("trace.overhead_ms", "ms", "lower")]
)
# the rest of operator_suite's queries, printed by its traced runs
EXTRA_LAYER = [m for q in OPERATOR_QUERIES if q != CYCLE_OPERATOR
               for m in ((f"operators.{q}.ms", "ms", "lower"), (f"operators.{q}.shuffle_bytes", "bytes", "lower"))]


def _assign(ops, start, end):
    """Index of the traced op overlapping [start, end] most; an event of
    no length goes to the op whose interval holds it (1 ms slack, the
    resolution of Spark's event times). None if outside every op."""
    best, best_ov = None, 0.0
    for i, o in enumerate(ops):
        ov = min(end, o["t1"]) - max(start, o["t0"])
        if ov > best_ov:
            best, best_ov = i, ov
    if best is None:
        for i, o in enumerate(ops):
            if o["t0"] - 1 <= start <= o["t1"] + 1:
                return i
    return best


def per_layer(result, trace):
    ops = [r for r in result["ops"] if r["extra"].get("traced")]
    n = len(ops)
    jobs = [[] for _ in ops]
    plans = [[] for _ in ops]
    batches = [[] for _ in ops]
    for j in trace["jobs"]:
        end = j["end"] if j["end"] >= 0 else j["start"]
        i = _assign(ops, j["start"], end)
        if i is not None:
            jobs[i].append(j)
    for p in trace["plans"]:
        ph = [tuple(v) for v in p["phases"].values()]
        i = _assign(ops, min(s for s, _ in ph), max(e for _, e in ph)) if ph else None
        if i is not None:
            plans[i].append(p)
    for b in trace["batches"]:
        if b["input_rows"] > 0:
            i = _assign(ops, b["start"], b["end"])
            if i is not None:
                batches[i].append(b)

    m = {name: 0.0 for name, _, _ in PER_LAYER + EXTRA_LAYER}
    for i, o in enumerate(ops):
        job_iv = [(j["start"], j["end"]) for j in jobs[i] if j["end"] >= 0]
        phase_iv = [tuple(p["phases"][k]) for p in plans[i] for k in PHASES if k in p["phases"]]
        covered = job_iv + phase_iv
        m["driver.self_ms"] += stats.self_time((o["t0"], o["t1"]), covered)
        if o["api1"] > o["api0"]:
            m["api.execute_ms"] += stats.self_time((o["api0"], o["api1"]), covered)
        busy = stats.union_length(stats.clip(job_iv, o["t0"], o["t1"]))
        m["spark.exec.job_ms"] += busy
        m["spark.exec.job_overlap_ms"] += sum(e - s for s, e in job_iv) - stats.union_length(job_iv)
        for p in plans[i]:
            m["spark.plan.executions"] += 1
            for k in PHASES:
                if k in p["phases"]:
                    s, e = p["phases"][k]
                    m[f"spark.plan.{k}_ms"] += e - s
            m["lake.files.scanned"] += p["lake_files_scanned"]
            m["lake.files.pruned"] += p["lake_files_pruned"]
            m["lake.files.bytes_scanned"] += p["lake_bytes_scanned"]
        for j in jobs[i]:
            m["spark.exec.jobs"] += 1
            for k in JOB_SUMS + JOB_BYTES:
                m[f"spark.exec.{k}"] += j[k]
        for b in batches[i]:
            m["streaming.batches"] += 1
            m["streaming.input_rows"] += b["input_rows"]
            for k, src in STREAM_PHASES.items():
                m[f"streaming.{k}"] += b["durations"].get(src, 0)
            m["streaming.state_rows"] = max(m["streaming.state_rows"], b["state_rows"])
            m["streaming.state_bytes"] = max(m["streaming.state_bytes"], b["state_bytes"])
        q = o["extra"].get("query")
        if f"operators.{q}.ms" in m and m[f"operators.{q}.ms"] == 0:
            m[f"operators.{q}.ms"] = o["ms"]
            m[f"operators.{q}.shuffle_bytes"] = sum(
                j["shuffle_read_bytes"] + j["shuffle_write_bytes"] for j in jobs[i])

    lake = trace["lake_ops"]
    for k in ("commits", "commit_attempts", "conflicts", "duplicates", "entry_reads"):
        m[f"lake.log.{k}"] = sum(x[k] for x in lake)
    for k in ("added", "removed", "bytes_added", "bytes_removed"):
        m[f"lake.files.{k}"] = sum(x[k] for x in lake)
    m["lake.log.useful_ratio"] = (m["lake.log.commits"] / m["lake.log.commit_attempts"]
                                  if m["lake.log.commit_attempts"] else 1.0)
    probes = [x["snapshot_probe_ms"] for x in lake]
    m["lake.log.snapshot_probe_ms"] = stats.median(probes) if probes else 0.0
    g = trace["lake_gauges"]
    for k, src in (("lake.log.entries", "entries"), ("lake.log.checkpoints", "checkpoints"),
                   ("lake.log.bytes", "log_bytes"), ("lake.files.live", "live"),
                   ("lake.files.dv_rows", "dv_rows"), ("lake.files.orphans", "orphans")):
        m[k] = g.get(src, 0)
    seen = m["lake.files.scanned"] + m["lake.files.pruned"]
    m["lake.files.prune_ratio"] = m["lake.files.pruned"] / seen if seen else 0.0

    m["trace.ops"] = n
    # the untraced reference is the cycle before and the cycle after the
    # traced one, so the JIT's warming over the window does not count as
    # tracing cost
    timed = [r for r in result["ops"] if not r["warm"]]
    first = next((k for k, r in enumerate(timed) if r["extra"].get("traced")), 0)
    around = timed[max(0, first - n):first] + timed[first + n:first + 2 * n]
    untraced = [r["ms"] for r in around if r["ok"]]
    traced = [r["ms"] for r in ops]
    if untraced and traced:
        m["trace.overhead_ms"] = stats.median(traced) - stats.median(untraced)
    else:
        m["trace.overhead_ms"] = 0.0
    return m, dict(traced_p50_ms=stats.median(traced) if traced else None,
                   untraced_p50_ms=stats.median(untraced) if untraced else None,
                   untraced_ops=len(untraced))


def report(out_dir):
    result = json.load(open(os.path.join(out_dir, "result.json")))
    trace = json.load(open(os.path.join(out_dir, "trace.json")))
    m, over = per_layer(result, trace)
    ops_ms = sum(r["ms"] for r in result["ops"] if r["extra"].get("traced"))
    print(f"traced ops: {int(m['trace.ops'])}, op time {ops_ms:.1f} ms")
    print("self time by layer (ms, summed over the traced ops):")
    plan = sum(m[f"spark.plan.{p}_ms"] for p in PHASES)
    api_self = m["api.execute_ms"]
    rows = [("spark.exec (job busy)", m["spark.exec.job_ms"]), ("spark.plan (phases)", plan),
            ("api (dispatch, view registration)", api_self),
            ("driver (rest of the graft driver)", m["driver.self_ms"] - api_self)]
    for name, v in rows:
        share = 100 * v / ops_ms if ops_ms else 0
        print(f"  {name:36s} {v:10.1f}  {share:5.1f}%")
    print("counters:")
    units = {n: u for n, u, _ in PER_LAYER + EXTRA_LAYER}
    for name, _, _ in PER_LAYER + EXTRA_LAYER:
        if m[name] and not name.startswith("trace."):
            print(f"  {name:40s} {m[name]:14.6g} {units[name]}")
    print(f"tracing overhead: traced op p50 {over['traced_p50_ms']} ms - untraced op p50 "
          f"{over['untraced_p50_ms']} ms ({over['untraced_ops']} untraced ops) = {m['trace.overhead_ms']:.3f} ms")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    report(sys.argv[1])

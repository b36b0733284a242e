#!/usr/bin/env python3
"""Self-tests of the benchmark.

Unit checks (instant): the tail-percentile helper, interval-union self
time with overlapping jobs, op assignment of trace events, and that
BENCHMARK.json names exactly the metrics run.py and summarize.py print.

End-to-end checks (a few minutes, tiny sf0.001 data): write_amp and
space_amp of lake_dml and stream_ingest runs are sane, and the
deterministic counters of a traced run repeat exactly across two runs with
the same seed.

Usage: python3 perfbench/selftest.py [--quick] [--sf DIR]
  --sf defaults to $SPARK_GRAFT_SF_DIR with sf0.1 replaced by sf0.001,
  else ~/testdata/sf0.001.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402
import stats  # noqa: E402
import summarize  # noqa: E402

# counters that must repeat exactly for a seed (one client, no timers)
DETERMINISTIC = ["spark.exec.jobs", "spark.plan.executions", "lake.log.commits", "lake.log.commit_attempts",
                 "lake.log.entries", "lake.log.checkpoints", "lake.files.scanned", "lake.files.pruned",
                 "lake.files.live", "lake.files.added", "lake.files.removed", "lake.files.bytes_added",
                 "lake.files.bytes_removed", "lake.files.dv_rows", "lake.files.orphans",
                 "streaming.batches", "streaming.input_rows"]


def test_tail():
    xs = list(range(1, 101))  # 1..100
    v, pct = stats.tail(xs)
    assert v == 90 and pct == 90.0, (v, pct)  # ten samples (91..100) beyond it
    assert stats.tail(list(range(19))) is None  # it would sit below the median
    v, pct = stats.tail([5.0] * 20)
    assert v == 5.0 and pct == 50.0
    assert stats.median([3, 1, 2]) == 2 and stats.median([1, 2, 3, 4]) == 2.5


def test_self_time():
    # op [0, 100]; two jobs on parallel threads overlap in [20, 40]; a plan
    # phase [70, 80]; a job sticking out past the op end counts only inside
    children = [(10, 40), (20, 50), (70, 80), (95, 130)]
    assert stats.union_length([(10, 40), (20, 50)]) == 40
    assert stats.union_length([(0, 1), (1, 2), (5, 5)]) == 2
    assert stats.self_time((0, 100), children) == 100 - (40 + 10 + 5)
    assert stats.self_time((0, 10), []) == 10
    assert stats.amp(6, 3) == 2 and stats.amp(1, 0) is None


def test_assign():
    ops = [{"t0": 0.0, "t1": 10.0}, {"t0": 10.5, "t1": 20.0}]
    assert summarize._assign(ops, 2, 8) == 0
    assert summarize._assign(ops, 9, 15) == 1  # overlaps the second op more
    assert summarize._assign(ops, 10.2, 10.2) == 0  # zero length, 1 ms slack
    assert summarize._assign(ops, 30, 31) is None


def test_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(summarize.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def bench(sf, workload, seed, trace, keep=False):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf)
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
                        "--seconds", "0.1", "--trace", str(trace)] + (["--keep"] if keep else []),
                       capture_output=True, text=True, env=env, cwd=HERE.parent)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    assert last["correct"] and last["failed"] == 0, p.stdout[-2000:]
    named = {m.group(1): float(m.group(2)) for m in
             (re.match(r"metric (\S+) = (\S+) ", ln) for ln in lines) if m and m.group(2) != "None"}
    return last, named


def log_entries(table_dir):
    log = Path(table_dir) / "_log"
    return [json.loads(f.read_text()) for f in sorted(log.glob("[0-9]*.json"))
            if not f.name.endswith(".checkpoint.json")]


def live_bytes(table_dir):
    """Bytes of the files the latest snapshot references, replayed from the
    log entries directly (removes before adds, as the log defines)."""
    live = {}
    for e in log_entries(table_dir):
        for r in e.get("removes", []):
            live.pop(r, None)
        for a in e.get("adds", []):
            live[a["path"]] = a
    paths = {a["path"] for a in live.values()} | {a["dv"]["path"] for a in live.values() if a.get("dv")}
    return sum(os.path.getsize(p) for p in paths)


def kept_run(sf, workload):
    for old in HERE.glob(f".work/{workload}-1-*"):
        shutil.rmtree(old)
    _, named = bench(sf, workload, 1, 0, keep=True)
    work = next(HERE.glob(f".work/{workload}-1-*"))
    return named, work, json.loads((work / "out" / "result.json").read_text())


def test_amplification(sf):
    d, work, _ = kept_run(sf, "lake_dml")
    try:
        # copy-on-write rewrites and compaction write more than the user rows
        assert d["write_amp"] > 1.0, d
        # space_amp: everything under the table dir after VACUUM over the
        # bytes the latest snapshot references, recomputed from the log
        table = sorted(work.glob("lake*/tables/ord"))[-1]  # the last set-up's lake
        on_disk = sum(f.stat().st_size for f in table.rglob("*") if f.is_file())
        want = on_disk / live_bytes(table)
        assert abs(d["space_amp"] - want) < 1e-9 * want, (d["space_amp"], want)
        assert d["space_amp"] >= 1.0
    finally:
        shutil.rmtree(work)
    s, work, result = kept_run(sf, "stream_ingest")
    try:
        # write_amp: bytes of every file the sink commits added over the
        # bytes of the chunk files the sinks were given
        added = 0
        for table in sorted(work.glob("stream*/lake/tables/*")):
            if table.parent.parent.parent.name != sorted(work.glob("stream*"))[-1].name:
                continue
            seen = set()
            for e in log_entries(table):
                for a in e.get("adds", []):
                    if a["path"] not in seen:
                        seen.add(a["path"])
                        added += a["size"]
        supplied = sum(r["extra"]["chunk_bytes"] for r in result["ops"] if r["ok"])
        assert abs(s["write_amp"] - added / supplied) < 1e-9, (s["write_amp"], added / supplied)
    finally:
        shutil.rmtree(work)


def test_deterministic_counters(sf):
    for workload in ("lake_query", "lake_dml", "stream_ingest"):
        (a, ea), (b, eb) = bench(sf, workload, 7, 1), bench(sf, workload, 7, 1)
        for k in DETERMINISTIC:
            assert ea[k] == eb[k], (workload, k, ea[k], eb[k])
        assert ea["trace.ops"] > 0 and ea["spark.exec.jobs"] > 0
        if "write_amp" in ea:
            # data files repeat byte for byte; deletion-vector sidecars
            # name their data files by random UUID, so their compressed
            # size can differ by a few bytes between runs
            assert abs(ea["write_amp"] - eb["write_amp"]) <= 1e-4 * ea["write_amp"], (
                workload, ea["write_amp"], eb["write_amp"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true", help="unit checks only")
    ap.add_argument("--sf")
    a = ap.parse_args()
    tests = [test_tail, test_self_time, test_assign, test_benchmark_json]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    if a.quick:
        return
    sf = a.sf or (os.environ["SPARK_GRAFT_SF_DIR"].replace("sf0.1", "sf0.001")
                  if os.environ.get("SPARK_GRAFT_SF_DIR") else str(Path.home() / "testdata" / "sf0.001"))
    for t in (test_amplification, test_deterministic_counters):
        t(sf)
        print(f"ok {t.__name__}")


if __name__ == "__main__":
    main()

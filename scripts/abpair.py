#!/usr/bin/env python3
"""Alternating A/B pairs of the lakehouse benchmark between two revisions.

Extracts both revisions with `git archive` into a work directory, then
runs each tree's own `perfbench/run.py --trace 0` once per seed for
BENCHMARK.json's run_seconds, alternating which side runs first (the
first pair runs A first). Each tree builds itself on its first run.
For every end-to-end metric it prints each side's median and quartiles,
B's wins over the pairs (ties count for neither side), whether B's
median is worse than A's by more than the metric's bound, and whether
the gain rule holds: B wins at least 9 of every 10 pairs and its median
is better than A's by more than A's interquartile distance. It then
prints each side's median of the metrics a run prints but the benchmark
does not gate (lake_dml's write_amp and space_amp, and each op kind's
*_p50_ms), which show the layer a change moved.

With --counters SEED it instead makes one traced run (`--trace 1`) per
side at that seed and prints perfbench/selftest.py's DETERMINISTIC
counters, the log's cold entry parses (lake.log.entry_reads) and
ok_ratio side by side; it exits 1 when any counter differs, a run fails
or ok_ratio is below 1.0. That is the check that a change leaves the
work a workload does (Spark jobs, commits, log entries read, files
added, removed and scanned, orphans) as it was.

Usage:
  python3 scripts/abpair.py <revA> <revB> <workload> <seeds> [--work DIR]
  python3 scripts/abpair.py <revA> <revB> <workload> --counters SEED [--work DIR]

<seeds> is first-last (1-10) or a comma list (3,5,8). To pair the
working tree, stage it and pass `$(git stash create)` as a revision.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.dont_write_bytecode = True  # leave perfbench/ as checked out
sys.path.insert(0, str(ROOT / "perfbench"))
import stats  # noqa: E402
from selftest import DETERMINISTIC  # noqa: E402

# the traced run's work counters: selftest's repeatable set plus the log
# entries parsed, which a change to the log's replay must leave as it was
COUNTERS = DETERMINISTIC + ["lake.log.entry_reads"]
UNGATED = re.compile(r"write_amp|space_amp|\w+_p50_ms")


def parse_seeds(text):
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-"))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def extract(rev, dest):
    """The tree of `rev` in `dest` (reused when already extracted)."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout.strip()
    tree = dest / sha[:12]
    if not (tree / "perfbench" / "run.py").exists():
        tree.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryFile() as tar:
            subprocess.run(["git", "archive", sha], cwd=ROOT, stdout=tar, check=True)
            tar.seek(0)
            with tarfile.open(fileobj=tar) as t:
                t.extractall(tree)
    return sha, tree


def run(tree, workload, seed, seconds, trace=0):
    """The stdout lines of one run, or None when it failed."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=tree, capture_output=True, text=True)
    if p.returncode != 0:
        print(f"  {tree.name} seed {seed}: exit {p.returncode}\n{p.stderr[-1500:]}", flush=True)
        return None
    return p.stdout.strip().splitlines()


def printed(lines):
    """The metrics a run prints, as printed."""
    return {m.group(1): m.group(2) for m in (re.match(r"metric (\S+) = (\S+)", ln) for ln in lines) if m}


def traced(tree, workload, seed, seconds):
    """The metrics one traced run prints, as printed, or None when it failed."""
    lines = run(tree, workload, seed, seconds, trace=1)
    return None if lines is None else printed(lines)


def counters(sides, workload, seed, seconds):
    """Exit 1 unless both sides' traced runs print equal COUNTERS and
    every op of both succeeded."""
    got = [traced(tree, workload, seed, seconds) for _, tree in sides]
    if None in got:
        sys.exit(1)
    differ = [k for k in COUNTERS if got[0].get(k) != got[1].get(k)]
    for k in COUNTERS + ["ok_ratio"]:
        print(f"{k:24s} A {got[0].get(k)}  B {got[1].get(k)}{'  DIFFERS' if k in differ else ''}")
    failing = [s for s, g in zip("AB", got) if g.get("ok_ratio") != "1.0"]
    print(f"{len(differ)} of {len(COUNTERS)} counters differ; "
          f"ok_ratio below 1.0 on: {' '.join(failing) or 'neither side'}")
    sys.exit(1 if differ or failing else 0)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="?")
    ap.add_argument("--counters", type=int, metavar="SEED",
                    help="compare one traced run per side at SEED instead of pairing untraced runs")
    ap.add_argument("--work", default=str(Path(tempfile.gettempdir()) / "abpair"),
                    help="where the two trees are extracted and built")
    a = ap.parse_args()
    if (a.seeds is None) == (a.counters is None):
        ap.error("give either <seeds> or --counters SEED")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = Path(a.work)
    sides = [extract(a.rev_a, work), extract(a.rev_b, work)]
    print(f"A = {sides[0][0][:12]}, B = {sides[1][0][:12]}, {a.workload}, "
          f"--seconds {spec['run_seconds']}", flush=True)
    if a.counters is not None:
        counters(sides, a.workload, a.counters, spec["run_seconds"])

    gated = {m["name"] for m in spec["end_to_end"]}
    pairs = []  # (seed, result A, result B), both runs succeeded
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        res = [None, None]
        for side in order:
            lines = run(sides[side][1], a.workload, seed, spec["run_seconds"])
            if lines is not None:
                res[side] = json.loads(lines[-1])
                res[side]["ungated"] = {k: float(v) for k, v in printed(lines).items()
                                        if k not in gated and UNGATED.fullmatch(k) and v != "None"}
        line = " | ".join(
            f"{'AB'[s]} " + ("failed" if r is None else f"correct={r['correct']} failed={r['failed']} "
                             + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                             + "".join(f" {k}={v:.4g}" for k, v in r["ungated"].items()))
            for s, r in enumerate(res))
        print(f"pair {i + 1} seed {seed} ({'AB'[order[0]]} first): {line}", flush=True)
        if None not in res:
            pairs.append((seed, res[0], res[1]))

    print(f"{len(pairs)} complete pairs")
    if not pairs:
        sys.exit(1)
    for m in spec["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        va = [p[1]["metrics"][name]["value"] for p in pairs]
        vb = [p[2]["metrics"][name]["value"] for p in pairs]
        wins = sum((b > x) if higher else (b < x) for x, b in zip(va, vb))
        losses = sum((b < x) if higher else (b > x) for x, b in zip(va, vb))
        med_a, med_b = stats.median(va), stats.median(vb)
        (a1, a3), (b1, b3) = quartiles(va), quartiles(vb)
        worse = (med_a - med_b) if higher else (med_b - med_a)
        regressed = med_a != 0 and worse / abs(med_a) > m["bound"]
        gain = wins >= 0.9 * len(pairs) and -worse > (a3 - a1)
        print(f"{name:12s} A {med_a:.4g} [q1 {a1:.4g}, q3 {a3:.4g}]  B {med_b:.4g} [q1 {b1:.4g}, q3 {b3:.4g}]  "
              f"B wins {wins}/{len(pairs)} (loses {losses})  "
              f"{'WORSE THAN BOUND ' + str(m['bound']) if regressed else 'within bound ' + str(m['bound'])}  "
              f"gain rule {'holds' if gain else 'not met'}")
    for name in pairs[0][1]["ungated"]:
        va, vb = ([p[s]["ungated"][name] for p in pairs if name in p[s]["ungated"]] for s in (1, 2))
        if va and vb:
            print(f"{name:16s} A {stats.median(va):.4g}  B {stats.median(vb):.4g}  (printed, not gated)")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Per-op process starts and on-CPU samples of one benchmark run, from JFR.

Runs a tree's own `perfbench/run.py --trace 0 --keep` with
JAVA_TOOL_OPTIONS asking every JVM it starts for a Java Flight Recorder
recording (profile settings), so no benchmark file changes. It then
reads the benchmark JVM's recording with the JDK's `jfr` tool and the
run's kept result.json, and assigns each event to the op whose window
holds it (or to `setup/idle`). Per op kind it prints:

  - process starts by command (program name; chmod with its mode), the
    host-independent count of what the JVM forked;
  - on-CPU execution samples by thread (main, stream execution,
    executor task workers, the rest by name), which attributes driver
    time to the thread that spent it.

Usage:
  python3 scripts/jfrops.py lake_dml 1000
  python3 scripts/jfrops.py lake_dml 1000 --tree <extracted tree> --seconds 10

--tree is a checkout holding perfbench/ (default: this one), e.g. an
abpair work directory's tree of another revision. The kept run
directory and the recordings are deleted afterwards unless --keep.
"""
import argparse
import collections
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from datetime import datetime, timezone
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN_CLASS = "perfbench.Main"


def jfr_json(rec, events):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "1", "--events", events, str(rec)],
                         capture_output=True, text=True, check=True).stdout
    return json.loads(out)["recording"]["events"]


def epoch_ms(ts):
    """JFR's ISO-8601 instant (nanosecond fraction) as epoch milliseconds."""
    m = re.fullmatch(r"(.+?)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)", ts)
    base = datetime.fromisoformat(m.group(1) + ("+00:00" if m.group(3) == "Z" else m.group(3)))
    frac = float("0." + m.group(2)) if m.group(2) else 0.0
    return (base.astimezone(timezone.utc).timestamp() + frac) * 1e3


def bench_recording(rec_dir):
    """The recording of the benchmark JVM (the build's sbt JVM records too)."""
    for rec in sorted(Path(rec_dir).glob("*.jfr")):
        info = jfr_json(rec, "jdk.JVMInformation")
        if info and (info[0]["values"].get("javaArguments") or "").startswith(MAIN_CLASS):
            return rec
    sys.exit(f"jfrops: no recording of {MAIN_CLASS} in {rec_dir}")


def command_key(cmd):
    words = cmd.split()
    prog = words[0].rsplit("/", 1)[-1] if words else "?"
    return f"{prog} {words[1]}" if prog == "chmod" and len(words) > 1 else prog


def thread_key(name):
    head = name.split(" for ")[0]
    return re.sub(r"\d+", "#", head)[:40]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("workload")
    ap.add_argument("seed", type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--tree", default=str(ROOT))
    ap.add_argument("--keep", action="store_true", help="keep the run directory and the recordings")
    a = ap.parse_args()
    tree = Path(a.tree).resolve()

    rec_dir = tempfile.mkdtemp(prefix="jfrops-")
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS"), f"-XX:StartFlightRecording=filename={rec_dir},settings=profile"]))
    p = subprocess.Popen([sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", "0", "--keep"],
                         cwd=tree, env=env, stdin=subprocess.DEVNULL)
    rc = p.wait()
    work = tree / "perfbench" / ".work" / f"{a.workload}-{a.seed}-{p.pid}"
    try:
        if rc != 0:
            sys.exit(f"jfrops: run.py exited with {rc}")
        result = json.loads((work / "out" / "result.json").read_text())
        rec = bench_recording(rec_dir)
        ops = sorted(result["ops"], key=lambda r: r["t0"])

        def kind_at(ms):
            for r in ops:  # a few hundred ops: linear is fine
                if r["t0"] <= ms <= r["t1"]:
                    return ("warm " if r["warm"] else "") + r["kind"]
            return "setup/idle"

        n_ops = collections.Counter(("warm " if r["warm"] else "") + r["kind"] for r in ops)
        forks = collections.defaultdict(collections.Counter)
        samples = collections.defaultdict(collections.Counter)
        for e in jfr_json(rec, "jdk.ProcessStart,jdk.ExecutionSample"):
            v = e["values"]
            kind = kind_at(epoch_ms(v["startTime"]))
            if e["type"] == "jdk.ProcessStart":
                forks[kind][command_key(v["command"] or "")] += 1
            else:
                samples[kind][thread_key((v.get("sampledThread") or {}).get("javaName") or "?")] += 1

        total = sum(sum(c.values()) for c in forks.values())
        print(f"jfrops {a.workload} seed {a.seed}: {total} process starts, "
              f"{sum(sum(c.values()) for c in samples.values())} execution samples ({rec.name})")
        for kind in sorted(set(forks) | set(samples), key=lambda k: (k == "setup/idle", k)):
            n = n_ops.get(kind)
            f = forks[kind]
            head = f"{kind} ({n} ops)" if n else kind
            per_op = f", {sum(f.values()) / n:.1f} per op" if n else ""
            print(f"\n{head}: {sum(f.values())} process starts{per_op}")
            for cmd, c in f.most_common():
                print(f"  fork    {c:6d}  {cmd}")
            for thread, c in samples[kind].most_common(8):
                print(f"  on-cpu  {c:6d}  {thread}")
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
            shutil.rmtree(rec_dir, ignore_errors=True)
        else:
            print(f"\nkept {work} and {rec_dir}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft lakehouse benchmark.

Builds graft and the benchmark JVM program from source (sbt, offline), makes
the workload's inputs from the seed, runs that JVM (local[nproc], one
client thread, closed loop) for the timed window, checks every output
against an independent computation, and prints the metrics. The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; end-to-end metrics with --trace 0, per-layer metrics with
--trace 1.

Usage:
  python3 perfbench/run.py --workload lake_query --seed 1 --seconds 10 --trace 0

The sf testdata directory is $SPARK_GRAFT_SF_DIR, else ~/testdata/sf0.1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402
import summarize  # noqa: E402
import workloads  # noqa: E402

RUN_LIMIT_S = 175    # a run, after any build
BUILD_LIMIT_S = 700  # the first run in a checkout builds first
SETUP_REPS = 3
# a fixed heap (initial = maximum) keeps the resident-set peak from
# following the collector's run-to-run heap resizing
JVM_HEAP = "2g"
WORKLOADS = ("lake_query", "lake_dml", "stream_ingest", "operator_suite")
# the metrics every run reports (BENCHMARK.json end_to_end)
END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("ops_per_s", "1/s"), ("ok_ratio", "ratio"),
              ("peak_rss_mb", "MB")]
# Spark 4 on JDK 17 outside spark-submit, as in the root build.sbt
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; on timeout kill the whole
    group (sbt and the benchmark JVM start children) and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} did not finish within {timeout:.0f} s", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    if not home or not (Path(home) / "jars").is_dir():
        die("no Spark installation (set SPARK_HOME)")
    return home


def sources():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main" / "scala", HERE / "src"):
        files += sorted(p for p in d.rglob("*.scala"))
    return files


def build(home):
    """Compile graft and the benchmark JVM program once per source state."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        die("graft sources not found next to the benchmark (src/main/scala)")
    h = hashlib.sha1()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    target = HERE / "target"
    stamp = target / "perfbench.stamp"
    classes = target / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == digest and classes.is_dir():
        return classes
    if not shutil.which("sbt"):
        die("sbt not found")
    target.mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(target / "build.log", "w") as log:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], BUILD_LIMIT_S,
                       cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        die(f"build failed, see {target / 'build.log'}", 3)
    stamp.write_text(digest)
    return classes


def sf_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or str(Path.home() / "testdata" / "sf0.1")
    if not (Path(d) / "lineitem.parquet").exists():
        die(f"sf testdata not found at {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def run_jvm(classes, home, plan, out, t_run):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    plan_path = out / "plan.json"
    plan_path.write_text(json.dumps(plan))
    tmp = out.parent / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = [str(java), f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-cp", f"{classes}{os.pathsep}{Path(home) / 'jars' / '*'}", "perfbench.Main", str(plan_path)]
    remaining = RUN_LIMIT_S - (time.monotonic() - t_run) - 15
    with open(out / "jvm.log", "w") as log:
        rc = run_group(cmd, remaining, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        tail = (out / "jvm.log").read_text()[-2000:]
        die(f"benchmark JVM exited with {rc}:\n{tail}", 4)
    return json.loads((out / "result.json").read_text())


def end_to_end(workload, result, check):
    """All end-to-end metrics that apply to the workload: name -> (value, unit).

    The window ends on a cycle boundary of the mix, so op_p50_ms and
    ops_per_s weigh the op kinds alike in every run."""
    timed = [r for r in result["ops"] if not r["warm"]]
    ok = [r for r in timed if r["ok"] and r["idx"] not in check["bad"]]
    span_s = (timed[-1]["t1"] - timed[0]["t0"]) / 1e3 if timed else None
    ms = [r["ms"] for r in timed]
    window = result["window_s"]
    m = {"setup_s": (result["setup_s"], "s"), "op_p50_ms": (stats.median(ms) if ms else None, "ms"),
         "ops_per_s": (len(ok) / span_s if span_s else None, "1/s"),
         "ok_ratio": (len(ok) / len(timed) if timed else None, "ratio"),
         "failed_ratio": (1 - len(ok) / len(timed) if timed else None, "ratio"),
         "peak_rss_mb": (result["peak_rss_mb"], "MB")}
    t = stats.tail(ms)
    m["op_tail_ms"] = (t[0] if t else None, "ms")
    m["_tail_pct"] = t[1] if t else None

    def by_kind(*kinds):
        return stats.median([r["ms"] for r in timed if r["kind"] in kinds])

    fin = result["finish"]
    if workload == "lake_query":
        for k in ("lookup", "scan", "travel", "operator"):
            m[f"{k}_p50_ms"] = (by_kind(k), "ms")
    elif workload == "lake_dml":
        for name, kinds in (("insert", ("insert",)), ("merge", ("merge",)),
                            ("mutate", ("update", "delete")), ("optimize", ("optimize",)),
                            ("batch", ("batch",))):
            m[f"{name}_p50_ms"] = (by_kind(*kinds), "ms")
        m["write_amp"] = (stats.amp(fin["bytes_added"], check["supplied_bytes"]), "ratio")
        m["space_amp"] = (stats.amp(fin["table_dir_bytes"], fin["referenced_bytes"]), "ratio")
    elif workload == "stream_ingest":
        rows = sum(check["rows"][r["id"]] for r in ok)
        m["rows_per_s"] = (rows / window, "1/s")
        supplied = sum(r["extra"]["chunk_bytes"] for r in result["ops"] if r["ok"])
        m["write_amp"] = (stats.amp(fin["bytes_added"], supplied), "ratio")
    return m


def run_checks(workload, state, result, out, sf):
    if workload == "lake_query":
        bad, problems = workloads.check_lake_query(state, result, out, sf)
        extra = {}
    elif workload == "lake_dml":
        bad, problems, supplied = workloads.check_lake_dml(state, result, out)
        extra = {"supplied_bytes": supplied}
    elif workload == "stream_ingest":
        bad, problems, rows = workloads.check_stream_ingest(state, result, out)
        extra = {"rows": rows}
    else:
        bad, problems = workloads.check_operator_suite(state, result, out, sf)
        extra = {}
    return dict(bad=bad, problems=problems, **extra)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory (inputs, dumps, logs)")
    a = ap.parse_args()

    home = spark_home()
    classes = build(home)
    t_run = time.monotonic()
    sf = sf_dir()
    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    out = work / "out"
    out.mkdir(parents=True)
    try:
        gen = getattr(workloads, f"gen_{a.workload}")
        plan, state = gen(sf, str(work), a.seed)
        plan.update(workload=a.workload, sf_dir=sf, work_dir=str(work), out_dir=str(out),
                    seconds=a.seconds, trace=bool(a.trace), setup_reps=SETUP_REPS,
                    cpus=len(os.sched_getaffinity(0)))
        result = run_jvm(classes, home, plan, out, t_run)
        check = run_checks(a.workload, state, result, out, sf)
        timed = [r for r in result["ops"] if not r["warm"]]
        failed = {r["idx"]: r["err"] for r in timed if not r["ok"]}
        failed.update({i: why for i, why in check["bad"].items() if any(r["idx"] == i for r in timed)})
        warm_bad = [r["idx"] for r in result["ops"] if r["warm"] and (not r["ok"] or r["idx"] in check["bad"])]
        for i, why in sorted(failed.items())[:10]:
            print(f"failed op {i} ({result['ops'][i]['id']}): {why}")
        for p in check["problems"]:
            print(f"check failed: {p}")
        if warm_bad:
            print(f"warm-up ops failed: {warm_bad}")
        if result["ops_exhausted"]:
            print("the statement list ran out before the window ended")
        correct = not failed and not check["problems"] and not warm_bad and not result["ops_exhausted"]
        e2e = end_to_end(a.workload, result, check)
        print(f"workload {a.workload} seed {a.seed}: {len(timed)} timed ops in {result['window_s']:.2f} s, "
              f"closed loop, 1 client, local[{plan['cpus']}]")
        for name, (v, unit) in ((k, v) for k, v in e2e.items() if not k.startswith("_")):
            note = f"  (p{e2e['_tail_pct']:.0f} of {len(timed)} ops)" if name == "op_tail_ms" and v else ""
            print(f"metric {name} = {v} {unit}{note}")
        if a.trace:
            summarize.report(str(out))
            layer, _ = summarize.per_layer(result, json.loads((out / "trace.json").read_text()))
            for n, u, _ in summarize.PER_LAYER + summarize.EXTRA_LAYER:
                print(f"metric {n} = {layer[n]} {u}")
            metrics = {n: {"value": layer[n], "unit": u} for n, u, _ in summarize.PER_LAYER}
        else:
            missing = [n for n, _ in END_TO_END if e2e[n][0] is None]
            if missing:
                die(f"too few ops for {missing}; run longer")
            metrics = {n: {"value": e2e[n][0], "unit": u} for n, u in END_TO_END}
        print(json.dumps({"correct": correct, "attempted": len(timed), "failed": len(failed),
                          "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Lake benchmark: merge-on-read scans, CDC ingest, LLM-curation operators
and the commit log of the graft engine, timed end to end and per layer.

Run from the checkout root:

    python3 lakebench/run.py --workload mor_read --seed 1 --seconds 12 --trace 0
    python3 lakebench/run.py --self-test      # tests of the benchmark's helpers
    python3 lakebench/run.py --report         # medians and tracing overhead

A run builds the engine and the benchmark from source when they changed
(lakebench/build.sh, then a class-data-sharing archive of the classes a
short run loads), runs one workload in one JVM at local[nproc], and
prints as its last stdout line one JSON object: correct, attempted,
failed and the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json. The full result, with the host
fingerprint, sample counts and span self-times, goes to
lakebench/results/. Scratch tables live in lakebench/.work and are
deleted when the run ends.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = "lakebench"
ARCHIVE = os.path.join(BENCH, ".build", "classes.jsa")
JVM_TIMEOUT_S = 170
# A fixed heap (Xms == Xmx), as build.sbt sets it, but 3g rather than its
# 16g default, so that a run fits beside other work on a 16 GB host.
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def build():
    if not os.path.isdir("src/main/scala/graft"):
        fail("no engine sources at src/main/scala/graft; run from the checkout root")
    r = subprocess.run(["bash", f"{BENCH}/build.sh"], stdout=sys.stderr,
                       env=dict(os.environ, SPARK_HOME=spark_home()))
    if r.returncode != 0:
        fail(f"build failed with code {r.returncode}")
    if not os.path.isfile(ARCHIVE):
        # Record the classes a short run loads into a class-data-sharing
        # archive, which later JVMs map instead of loading from the jars:
        # it takes about 4 s off each run's session start on a 4-core host.
        work = os.path.abspath(os.path.join(BENCH, ".work", f"archive-{os.getpid()}"))
        try:
            ok = run_jvm("lakebench.Main", [
                "--workload", "cdc_ingest", "--seed", "1", "--seconds", "1", "--trace", "0",
                "--work", work, "--out", os.path.join(work, "result.json")], work,
                [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if not ok:
            fail("the run that records the class archive failed")


def spark_home():
    """$SPARK_HOME, else the first install on PATH whose spark-submit sits
    beside a jars/ directory holding spark-core."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if (os.path.isfile(os.path.join(d, "spark-submit"))
                and glob.glob(os.path.join(home, "jars", "spark-core_*.jar"))):
            return home
    fail("no Spark install found; set SPARK_HOME")


def java_cmd(main, args, work, extra):
    jars = os.path.join(spark_home(), "jars")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    shared = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else []
    return (["java"] + opens + shared + extra + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
        f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
        "-cp", f"{BENCH}/.build/lakebench.jar:{jars}/*", main] + args)


def run_jvm(main, args, work, extra=()):
    """Run a JVM to completion in its own process group; False on timeout."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = subprocess.Popen(java_cmd(main, args, work, list(extra)), stdout=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S) == 0
    except subprocess.TimeoutExpired:
        print(f"lakebench: run exceeded {JVM_TIMEOUT_S}s, stopping it", file=sys.stderr)
        return False
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def git_revision():
    if not os.path.isdir(".git"):
        return "none"
    r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or "none"


def run(a):
    if not os.path.isfile("BENCHMARK.json"):
        fail("no BENCHMARK.json; run from the checkout root")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = {w["name"] for w in spec["workloads"]}
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; known: {', '.join(sorted(names))}")
    build()
    work = os.path.abspath(os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    out = os.path.join(work, "result.json")
    shutil.rmtree(work, ignore_errors=True)
    try:
        ok = run_jvm("lakebench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out], work)
        if not ok or not os.path.isfile(out):
            fail("the workload did not complete", 1)
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["fingerprint"]["git_revision"] = git_revision()
    os.makedirs(os.path.join(BENCH, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(BENCH, "results",
                        f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(res, f, indent=1)
    for fl in res["failures"]:
        print(f"lakebench: FAILED {fl['op']}: {fl['message']}", file=sys.stderr)
    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in listed:
        got = res["metrics"].get(m["name"])
        if got is None or (got["applies"] and got["value"] is None):
            fail(f"the run did not report {m['name']}", 1)
        # the output line needs a number for every listed metric; one that
        # this workload does not measure reads 0 there (null in the result file)
        metrics[m["name"]] = {"value": got["value"] if got["applies"] else 0,
                              "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def report():
    """Medians per workload of the end-to-end metrics in untraced and
    traced results, and tracing overhead as traced minus untraced.
    Results whose host fingerprints differ are never compared."""
    with open("BENCHMARK.json") as f:
        e2e = [m["name"] for m in json.load(f)["end_to_end"]]
    groups = {}
    for p in sorted(glob.glob(os.path.join(BENCH, "results", "*.json"))):
        with open(p) as f:
            r = json.load(f)
        groups.setdefault(r["fingerprint"]["workload"], []).append(r)
    for w, rs in sorted(groups.items()):
        # the revision may differ (that is what comparisons are for)
        prints = {json.dumps({k: v for k, v in r["fingerprint"].items() if k != "git_revision"},
                             sort_keys=True) for r in rs}
        if len(prints) > 1:
            fail(f"{w}: results come from different fingerprints, refusing to compare:\n  "
                 + "\n  ".join(sorted(prints)), 3)
        by = {t: [r for r in rs if r["traced"] == t] for t in (False, True)}
        print(f"{w}: {len(by[False])} untraced, {len(by[True])} traced, "
              f"failed ops {sum(int(r['failed']) for r in rs)} of "
              f"{sum(int(r['attempted']) for r in rs)}")
        for m in e2e:
            med = {t: statistics.median(r["metrics"][m]["value"] for r in by[t])
                   for t in (False, True) if by[t]}
            line = f"  {m:12s}" + "".join(
                f"  {'traced' if t else 'untraced'} {v:.4f}" for t, v in sorted(med.items()))
            if len(med) == 2:
                line += f"  overhead {med[True] - med[False]:+.4f}"
            print(line)


def self_test():
    build()
    work = os.path.abspath(os.path.join(BENCH, ".work", f"selftest-{os.getpid()}"))
    try:
        ok = run_jvm("lakebench.SelfTest", [work], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


def main():
    # on SIGTERM, unwind so that run_jvm stops the JVM and scratch is deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--report", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        self_test()
    elif a.report:
        report()
    elif a.workload:
        run(a)
    else:
        ap.error("--workload is required")


if __name__ == "__main__":
    main()

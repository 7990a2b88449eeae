#!/usr/bin/env python3
"""Regression benchmark of rtcdbspark.

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 10 --trace 0

builds the program from source (see build.py), runs one workload in a
fresh JVM and prints, as the last line of standard output, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are its per-layer metrics, taken from a traced run. The line before it
holds the workload's own named metrics, each with unit and sample count.

Other modes:
    --workload all      every workload, untraced then traced; prints every
                        named end-to-end metric and the tracing overhead
    --smoke             inputs at sf0.001 and a 2-second run
    --self-check        the benchmark's own checks, then a smoke run of
                        every workload
    --pin LIST          re-pins the answers query-mix and memo-cold check
                        (LIST holds `name role stratum` lines)

Workloads, metrics and the layer map are described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
RUNS = os.path.join(ROOT, ".bench_runs")
WORKLOADS = ("query-mix", "memo-cold", "rtcdb-rw")
SCALES = ("sf0.01", "sf0.001")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

_child = None


def _stop_child(*_):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(3)


def cores():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of MemTotal, between 1 and 4 GiB."""
    total_kb = 0
    with open("/proc/meminfo", encoding="utf-8") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(1024, min(4096, total_kb // 4096))


def jvm(classpath, main_args, work, log_path, timeout):
    """Runs the benchmark JVM in its own process group; kills it on timeout."""
    global _child
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cmd = ["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS] + [
        "-Xmx%dm" % heap_mb(), "-Xss4m",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", classpath, "graft.perfbench.Main"] + main_args
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(log_path, "w", encoding="utf-8") as log:
        _child = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                  env=env, start_new_session=True)
        try:
            rc = _child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
            rc = None
        _child = None
    return rc


def tail(path, n=40):
    try:
        with open(path, encoding="utf-8", errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def run_one(classpath, workload, seed, seconds, trace, scale):
    """One workload in one JVM; returns (detail, result) or raises."""
    name = "%s-t%d-s%d-%d" % (workload, trace, seed, os.getpid())
    work = os.path.join(RUNS, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.txt")
    log = os.path.join(work, "jvm.log")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores()), "--data", os.path.join(HERE, "data"),
            "--scale", scale, "--pinned", os.path.join(HERE, "pinned"), "--work", work,
            "--result", result]
    try:
        rc = jvm(classpath, args, work, log, JVM_TIMEOUT_S)
        if rc is None:
            raise RuntimeError("%s timed out after %ds\n%s" % (workload, JVM_TIMEOUT_S, tail(log)))
        if rc != 0 or not os.path.isfile(result):
            raise RuntimeError("%s exited with %s\n%s" % (workload, rc, tail(log)))
        with open(result, encoding="utf-8") as f:
            detail, line = [json.loads(x) for x in f.read().splitlines()[:2]]
        # keep the last run's artifacts of each kind; drop inputs and scratch
        keep = os.path.join(RUNS, "last-%s-t%d" % (workload, trace))
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("result.txt", "jvm.log", "spans.jsonl"):
            if os.path.isfile(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), keep)
        return detail, line
    finally:
        shutil.rmtree(work, ignore_errors=True)


def show(detail):
    rows = ["  %-28s %14.6g %-6s n=%d" % (k, m["value"], m["unit"], m["n"])
            for k, m in list(detail["named"].items()) + list(detail["env"].items())]
    print("perfbench %s (seed %s, trace %s):\n%s" % (
        detail["workload"], detail["seed"], detail["trace"], "\n".join(rows)), file=sys.stderr)
    for f in detail["failures"]:
        print("  failed: " + f, file=sys.stderr)


def run_all(classpath, args):
    """Every workload untraced and traced: every named metric, and the
    tracing overhead as the traced run's p50 over the untraced run's."""
    ok = True
    named = {}
    for w in WORKLOADS:
        plain, line0 = run_one(classpath, w, args.seed, args.seconds, 0, args.scale)
        traced, line1 = run_one(classpath, w, args.seed, args.seconds, 1, args.scale)
        show(plain)
        ok = ok and line0["correct"] and line1["correct"]
        p50 = line0["metrics"]["p50_s"]["value"]
        named[w] = dict(plain["named"])
        named[w]["trace_overhead"] = {
            "value": line1["metrics"]["trace.p50_s"]["value"] / p50 - 1, "unit": "ratio", "n": 1}
    print(json.dumps({"correct": ok, "named": named}))
    return 0 if ok else 1


def self_check(classpath):
    work = os.path.join(RUNS, "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "jvm.log")
    args = ["selfcheck", "--workload", "selfcheck", "--seed", "0", "--seconds", "0",
            "--trace", "0", "--cores", str(cores()), "--data", os.path.join(HERE, "data"),
            "--scale", "sf0.01", "--pinned", os.path.join(HERE, "pinned"), "--work", work,
            "--result", os.path.join(work, "result.txt")]
    rc = jvm(classpath, args, work, log, JVM_TIMEOUT_S)
    print("".join(l for l in tail(log, 200).splitlines(True) if l.startswith("[selfcheck]")))
    shutil.rmtree(work, ignore_errors=True)
    ok = rc == 0
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        declared = json.load(f)
    for w in WORKLOADS:
        for trace in (0, 1):
            detail, line = run_one(classpath, w, 1, 2, trace, "sf0.001")
            want = [m["name"] for m in declared["per_layer" if trace else "end_to_end"]]
            good = line["correct"] and sorted(line["metrics"]) == sorted(want)
            print("[smoke] %s %-9s trace %d: correct=%s attempted=%d failed=%d, %s" % (
                "ok  " if good else "FAIL", w, trace, line["correct"], line["attempted"],
                line["failed"], "metrics as declared" if sorted(line["metrics"]) == sorted(want)
                else "metrics differ from BENCHMARK.json"))
            ok = ok and good
    return 0 if ok else 1


def pin(classpath, listfile):
    for scale in SCALES:
        work = os.path.join(RUNS, "pin-" + scale)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(HERE, "pinned", scale + ".tsv")
        rc = jvm(classpath, ["pin", os.path.join(HERE, "data"), scale, str(cores()),
                             os.path.abspath(listfile), out],
                 work, os.path.join(work, "jvm.log"), 3600)
        print(tail(os.path.join(work, "jvm.log"), 20), file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0:
            return 1
    return 0


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--self-check", action="store_true")
    p.add_argument("--pin", metavar="LIST")
    args = p.parse_args()
    args.scale = "sf0.001" if args.smoke else "sf0.01"
    if args.smoke:
        args.seconds = 2
    if not (args.workload or args.self_check or args.pin):
        p.error("--workload is required")
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)
    try:
        classpath = build.build()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    if args.self_check:
        return self_check(classpath)
    if args.pin:
        return pin(classpath, args.pin)
    try:
        if args.workload == "all":
            return run_all(classpath, args)
        detail, line = run_one(classpath, args.workload, args.seed, args.seconds,
                               args.trace, args.scale)
    except RuntimeError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1
    show(detail)
    print(json.dumps({"named": detail["named"], "env": detail["env"]}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

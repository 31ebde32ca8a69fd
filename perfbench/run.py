#!/usr/bin/env python3
"""Closed-loop benchmark of the operator registry at sf0.1.

    python3 perfbench/run.py --workload light-mix --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source (perfbench/build.py), starts
one JVM with Spark in local[nproc], and runs the workload's registry keys
(perfbench/workloads.json) in whole passes, as many as fill --seconds at the
workload's nominal pass length (pass_count). Each call is timed from the
registry function call until its last row is digested; the digest is checked
against perfbench/pins.json.

With --trace 0 it prints the end-to-end metrics, with --trace 1 the per-layer
ones (perfbench/NOTES.md maps them to layers). Every metric is printed by
name with its unit; the full per-call records go to
<build dir>/out/<workload>-seed<seed>-trace<t>/records.jsonl, and the last
line of stdout is one compact JSON summary.

    python3 perfbench/run.py --self-test      # harness self-tests
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
RUN_LIMIT_S = 175.0
# a fixed heap: a heap that grows during the run makes later passes faster
# than earlier ones. The memory metric (live_heap_mb) is the heap in use
# after a full GC, which does not depend on the heap's size.
JVM_HEAP = "3g"


def load(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def jvm(main, args, classpath, work, timeout):
    """Runs a harness main in a JVM whose scratch files stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss8m"] + build.java_opens() +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-cp", classpath, main] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=work, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    finally:
        # on a timeout, an interrupt or SIGTERM: stop the JVM and reap it
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def pass_count(w, seconds, trace):
    """Whole passes a run makes: --seconds over the workload's nominal pass
    length, at least one, and an even number (at least two) when traced, so
    that every key runs as often traced as not. A fixed count, not a time
    budget, keeps a run's calls and failures the same whatever the speed.
    """
    n = max(1, round(seconds / w["pass_s"]))
    return max(2, n + n % 2) if trace else n


def run_workload(w, seed, passes, trace, out, classpath, deadline, warm=True):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = ["--keys", ",".join(w["keys"]),
            "--seed", str(seed), "--passes", str(passes), "--trace", str(int(trace)),
            "--data", DATA, "--out", out,
            "--cores", str(os.cpu_count() or 4), "--warm", str(int(warm)),
            "--warm-keys", ",".join(w.get("warm_keys", []))]
    work = os.path.join(build.build_dir(), "work")
    rc = jvm("perfbench.Main", args, classpath, work, deadline - time.time())
    if rc != 0:
        raise RuntimeError(f"benchmark JVM exited with code {rc}")
    return metrics.read_run(out)


def self_test():
    classpath = build.build(tests=True)
    work = os.path.join(build.build_dir(), "work")
    rc = jvm("perfbench.SelfTest", [DATA], classpath, work, 600)
    py = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s",
                         os.path.join(HERE, "harness", "test"), "-p", "test_*.py"])
    ok = rc == 0 and py.returncode == 0
    print(f"self-test: {'ok' if ok else 'FAILED'}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.self_test:
        return self_test()
    start = time.time()
    workloads = {w["name"]: w for w in load("workloads.json")["workloads"]}
    if a.workload not in workloads:
        print(f"unknown workload {a.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA):
        print(f"fixture data missing: {DATA}", file=sys.stderr)
        return 2
    w = workloads[a.workload]
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    # the first run of a checkout builds; its own run limit starts after that
    deadline = max(start + RUN_LIMIT_S, time.time() + RUN_LIMIT_S - 60)
    out = os.path.join(build.build_dir(), "out",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}")
    try:
        run = run_workload(w, a.seed, pass_count(w, a.seconds, a.trace), a.trace, out,
                           classpath, deadline)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] run failed: {e}", file=sys.stderr)
        return 3
    pins = load("pins.json")["pins"]
    acc = metrics.account(run["calls"], pins)
    metrics.write_records(os.path.join(out, "records.jsonl"), acc["records"])
    if a.trace:
        values = metrics.per_layer(run, acc)
    else:
        values = metrics.end_to_end(run, acc)
    metrics.report(a.workload, a.seed, acc, values, out)
    print(json.dumps({
        "correct": acc["correct"], "attempted": acc["attempted"], "failed": acc["failed"],
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in values.items()},
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Accounting and metrics over the raw records a benchmark JVM writes.

`account` judges every call against its pin; `end_to_end` and `per_layer`
turn the judged calls (and, for a traced run, the span/job/stage trace) into
the metrics BENCHMARK.json lists. NOTES.md says which layer each one reads.
"""
import json
import math
import os
import statistics

# name -> unit, in the order they are printed
E2E = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "live_heap_mb": "MB",
}
PER_LAYER = {
    "tables.resolve_ms": "ms",
    "tables.jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "ops.build_ms": "ms",
    "ops.build_jobs": "count",
    "ckpt.jobs": "count",
    "ckpt.job_ms": "ms",
    "graph_algebra.jobs": "count",
    "graph.copurchase_ms": "ms",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "driver.gap_ms": "ms",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "sched.core_util": "ratio",
    "span.query.self_ms": "ms",
    "span.ops.build.self_ms": "ms",
    "span.catalyst.plan.self_ms": "ms",
    "span.exec.action.self_ms": "ms",
    "span.job.self_ms": "ms",
    "span.stage.self_ms": "ms",
    "trace_overhead": "ratio",
}
UNITS = {**E2E, **PER_LAYER}

# the tail keeps at least this many samples beyond it
TAIL_BEYOND = 10


def _jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def read_run(out):
    with open(os.path.join(out, "summary.json")) as fh:
        summary = json.load(fh)
    return {"summary": summary, "calls": _jsonl(os.path.join(out, "calls.jsonl")),
            "passes": _jsonl(os.path.join(out, "passes.jsonl")),
            "trace": _jsonl(os.path.join(out, "trace.jsonl"))}


def account(calls, pins):
    """Judges each call. A call fails if it threw or its digest differs from
    the pin. `correct` stays true while every failure is one the pins already
    record (a known throw or an oracle mismatch) and no pinned digest is
    contradicted.
    """
    records, correct, failed = [], True, 0
    for c in calls:
        pin = pins.get(c["key"], {})
        r = dict(c)
        if not c["ok"]:
            r["status"] = "error"
            expected = pin.get("status") == "throws" and pin.get("error") == c["error"]
        elif "digest" in pin:
            r["status"] = "ok" if c["digest"] == pin["digest"] else "mismatch"
            expected = r["status"] == "ok"
        elif pin.get("status") == "oracle-mismatch":
            r["status"] = "mismatch"
            expected = True
        else:
            # a key pinned as throwing that now returns: a program fix landed
            # and the key needs a new pin; timed, but not verified
            r["status"] = "unpinned"
            expected = pin.get("status") == "throws"
        r["expected"] = expected
        correct &= expected
        failed += r["status"] in ("error", "mismatch")
        records.append(r)
    return {"records": records, "correct": correct, "attempted": len(records),
            "failed": failed}


def write_records(path, records):
    with open(path, "w") as fh:
        for r in records:
            fh.write(json.dumps(r, separators=(",", ":")) + "\n")


def good(records, traced):
    return [r for r in records if r["traced"] == traced and r["status"] in ("ok", "unpinned")]


def qps(run, acc):
    """Correct calls per second of pass wall time, for an untraced run."""
    secs = sum(p["end_ms"] - p["start_ms"] for p in run["passes"]) / 1000.0
    return len(good(acc["records"], False)) / secs if secs > 0 else 0.0


def call_ms(records, traced):
    """Summed duration of every call, correct or not, on one side of a traced run."""
    return sum(r["end_ms"] - r["start_ms"] for r in records if r["traced"] == traced)


def tail(samples):
    """(percentile, value): the highest percentile with at least TAIL_BEYOND
    samples beyond it. Below 4 * TAIL_BEYOND samples that would fall under
    p75, so the tail is then the interpolated upper quartile instead.
    """
    s = sorted(samples)
    n = len(s)
    if n >= 4 * TAIL_BEYOND:
        return 100.0 * (n - TAIL_BEYOND) / n, s[n - TAIL_BEYOND - 1]
    if n == 1:
        return 75.0, s[0]
    return 75.0, statistics.quantiles(s, n=4, method="inclusive")[2]


def end_to_end(run, acc):
    lat = [r["ms"] for r in good(acc["records"], False)]
    q, t = tail(lat) if lat else (75.0, float("nan"))
    acc["tail"] = {"percentile": q, "samples": len(lat)}
    return {
        "setup_s": run["summary"]["setup_ms"] / 1000.0,
        "queries_per_s": qps(run, acc),
        "latency_p50_ms": statistics.median(lat) if lat else float("nan"),
        "latency_tail_ms": t,
        "live_heap_mb": run["summary"]["live_heap_bytes"] / 2.0 ** 20,
    }


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def per_layer(run, acc):
    spans = {s["id"]: s for s in run["trace"] if s["type"] == "span"}
    jobs = [j for j in run["trace"] if j["type"] == "job" and j["end_ms"] >= 0]
    stages = [s for s in run["trace"] if s["type"] == "stage" and s["start_ms"] >= 0]
    calls = [r for r in good(acc["records"], True) if r["span"] in spans]
    n = max(1, len(calls))

    def root(span_id):
        while span_id in spans and spans[span_id]["parent"] != -1:
            span_id = spans[span_id]["parent"]
        return span_id

    call_ids = {r["span"] for r in calls}
    phases = {}  # query span -> {kind: span}
    for s in spans.values():
        if s["parent"] in call_ids:
            phases.setdefault(s["parent"], {})[s["kind"]] = s
    job_of = {}  # job id -> (query span, phase kind)
    for j in jobs:
        q = root(j["parent"])
        if q in call_ids:
            job_of[j["job_id"]] = (q, spans[j["parent"]]["kind"] if j["parent"] != q else "query")
    cjobs = [j for j in jobs if j["job_id"] in job_of]
    cstages = [s for s in stages if s["job_id"] in job_of]
    stages_by_job = {}
    for s in cstages:
        stages_by_job.setdefault(s["job_id"], []).append(s)

    def per_call(total):
        return total / n

    def site(name):
        return [j for j in cjobs if j["site"] == name]

    def phase_ms(kind):
        return sum(p[kind]["end_ms"] - p[kind]["start_ms"]
                   for p in phases.values() if kind in p)

    def stage_sum(field):
        return sum(s[field] for s in cstages)

    gap = 0.0
    for r in calls:
        s = spans[r["span"]]
        iv = [(j["start_ms"], j["end_ms"]) for j in cjobs if job_of[j["job_id"]][0] == r["span"]]
        gap += (s["end_ms"] - s["start_ms"]) - _union_ms(iv, s["start_ms"], s["end_ms"])

    # self time: a span's duration minus the union of its children's
    query_self = sum(
        (spans[q]["end_ms"] - spans[q]["start_ms"]) -
        _union_ms([(p["start_ms"], p["end_ms"]) for p in phases.get(q, {}).values()],
                  spans[q]["start_ms"], spans[q]["end_ms"])
        for q in call_ids)

    def phase_self(kind):
        tot = 0.0
        for q, ps in phases.items():
            if kind in ps:
                p = ps[kind]
                iv = [(j["start_ms"], j["end_ms"]) for j in cjobs if j["parent"] == p["id"]]
                tot += (p["end_ms"] - p["start_ms"]) - _union_ms(iv, p["start_ms"], p["end_ms"])
        return tot

    job_self = sum(
        (j["end_ms"] - j["start_ms"]) -
        _union_ms([(s["start_ms"], s["end_ms"]) for s in stages_by_job.get(j["job_id"], [])],
                  j["start_ms"], j["end_ms"])
        for j in cjobs)
    stage_self = sum(s["end_ms"] - s["start_ms"] for s in cstages)

    traced_wall = call_ms(acc["records"], True)
    cores = run["summary"]["cores"]
    resolve = run["summary"].get("tables_resolve_ms", [])

    def rate(traced):
        ms = call_ms(acc["records"], traced)
        return len(good(acc["records"], traced)) / ms if ms > 0 else float("nan")
    return {
        "tables.resolve_ms": statistics.mean(resolve) if resolve else float("nan"),
        "tables.jobs": per_call(len(site("Tables.scala"))),
        "catalyst.analysis_ms": per_call(sum(spans[r["span"]].get("catalyst_analysis_ms", 0)
                                             for r in calls)),
        "catalyst.optimization_ms": per_call(sum(
            spans[r["span"]].get("catalyst_optimization_ms", 0) for r in calls)),
        "catalyst.planning_ms": per_call(sum(spans[r["span"]].get("catalyst_planning_ms", 0)
                                             for r in calls)),
        "ops.build_ms": per_call(phase_ms("ops.build")),
        "ops.build_jobs": per_call(sum(1 for j in cjobs if job_of[j["job_id"]][1] == "ops.build")),
        "ckpt.jobs": per_call(len(site("Ckpt.scala"))),
        "ckpt.job_ms": per_call(sum(j["end_ms"] - j["start_ms"] for j in site("Ckpt.scala"))),
        "graph_algebra.jobs": per_call(len(site("GraphAlgebra.scala"))),
        "graph.copurchase_ms": statistics.median(run["summary"].get("copurchase_ms", [math.nan])),
        "exec.ms": per_call(phase_ms("exec.action")),
        "exec.jobs": per_call(len(cjobs)),
        "exec.stages": per_call(len(cstages)),
        "exec.tasks": per_call(stage_sum("num_tasks")),
        "driver.gap_ms": per_call(gap),
        "exec.executor_run_ms": per_call(stage_sum("executor_run_ms")),
        "exec.executor_cpu_ms": per_call(stage_sum("executor_cpu_ns") / 1e6),
        "exec.gc_ms": per_call(stage_sum("gc_ms")),
        "exec.shuffle_read_bytes": per_call(stage_sum("shuffle_read_bytes")),
        "exec.shuffle_write_bytes": per_call(stage_sum("shuffle_write_bytes")),
        "exec.spill_bytes": per_call(stage_sum("spill_bytes")),
        "exec.input_bytes": per_call(stage_sum("input_bytes")),
        "sched.core_util": stage_sum("executor_run_ms") / (traced_wall * cores)
        if traced_wall > 0 else float("nan"),
        "span.query.self_ms": per_call(query_self),
        "span.ops.build.self_ms": per_call(phase_self("ops.build")),
        "span.catalyst.plan.self_ms": per_call(phase_self("catalyst.plan")),
        "span.exec.action.self_ms": per_call(phase_self("exec.action")),
        "span.job.self_ms": per_call(job_self),
        "span.stage.self_ms": per_call(stage_self),
        "trace_overhead": rate(True) / rate(False),
    }


def report(workload, seed, acc, values, out):
    """Human-readable lines: every metric by name and unit, then failures."""
    recs = acc["records"]
    print(f"workload {workload} seed {seed}: {acc['attempted']} calls, "
          f"{acc['failed']} failed, correct={str(acc['correct']).lower()}")
    for k, v in values.items():
        print(f"  {k} = {v:.6g} {UNITS[k]}")
    if "tail" in acc:
        t = acc["tail"]
        print(f"  latency_tail_ms is p{t['percentile']:.4g} over {t['samples']} samples")
    print(f"  error_rate = {acc['failed'] / max(1, acc['attempted']):.6g} ratio")
    bad = {}
    for r in recs:
        if r["status"] in ("error", "mismatch"):
            bad.setdefault((r["key"], r.get("error", "DIGEST_MISMATCH")), []).append(r)
    for (key, err), rs in sorted(bad.items()):
        note = "" if all(r["expected"] for r in rs) else " UNEXPECTED"
        print(f"  failed: {key} {err} x{len(rs)}{note}")
    print(f"  per-call records: {os.path.join(out, 'records.jsonl')}")

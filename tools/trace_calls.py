#!/usr/bin/env python3
"""Per-call breakdown of a traced perfbench run.

Usage: python3 tools/trace_calls.py <out-dir> [<out-dir> ...]

<out-dir> is a `.bench_build/out/<workload>-seed<n>-trace1` directory left
by `python3 perfbench/run.py --trace 1`. For every traced call in its
`trace.jsonl` this prints the call's wall time, the wall time of its
registry call (`ops.build`), the driver gap (call time with none of the
call's jobs running), the shuffle bytes its stages read and its executor
GC time, and its jobs grouped by call site: per site the job count, the
summed job wall time, the summed executor GC time and the shuffle bytes
the sites' stages wrote. A job's call site is the name of its last stage ("runJob at GraphAlgebra.scala:402"), which is where the program
submitted it. A closing line per run sums the jobs of all its calls by call
site, with the fixture-resolution jobs (`Tables.scala`) always named, zero
included. Jobs that Spark submitted from a pool thread (adaptive query
stages, broadcasts) or whose last stage was skipped show the file-level
site perfbench attributed them to, marked "(pool thread)". The script only
reads perfbench's output.
"""
import collections
import json
import os
import sys


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, cur = 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def calls(trace):
    """Yield (key, call span, build span, [(site, job)]) per traced call."""
    spans = {e["id"]: e for e in trace if e["type"] == "span"}
    stage_name = {e["stage_id"]: e["name"] for e in trace if e["type"] == "stage"}
    jobs = collections.defaultdict(list)
    for j in trace:
        if j["type"] != "job" or j["end_ms"] < 0:
            continue
        q = j["parent"]
        while q in spans and spans[q]["parent"] != -1:
            q = spans[q]["parent"]
        name = stage_name.get(max(j["stage_ids"], default=None))
        if name is None or "CompletableFuture.java" in name:
            name = f"{j['site']} (pool thread)"
        jobs[q].append((name, j))
    queries = [s for s in spans.values() if s["kind"] == "query"]
    for q in sorted(queries, key=lambda s: s["start_ms"]):
        build = next((s for s in spans.values()
                      if s["parent"] == q["id"] and s["kind"] == "ops.build"), None)
        yield q["name"], q, build, jobs.get(q["id"], [])


def report(out_dir):
    with open(os.path.join(out_dir, "trace.jsonl")) as f:
        trace = [json.loads(line) for line in f if line.strip()]
    print(f"== {out_dir}")
    shuffle_read, shuffle_write, gc_ms = (collections.Counter() for _ in range(3))
    for e in trace:
        if e["type"] == "stage" and e["start_ms"] >= 0:
            shuffle_read[e["job_id"]] += e["shuffle_read_bytes"]
            shuffle_write[e["job_id"]] += e["shuffle_write_bytes"]
            gc_ms[e["job_id"]] += e["gc_ms"]
    total_by_site, n_calls = collections.Counter(), 0
    for key, q, build, jobs in calls(trace):
        n_calls += 1
        total_by_site.update(site for site, _ in jobs)
        wall = q["end_ms"] - q["start_ms"]
        build_ms = build["end_ms"] - build["start_ms"] if build else float("nan")
        busy = union_ms([(j["start_ms"], j["end_ms"]) for _, j in jobs],
                        q["start_ms"], q["end_ms"])
        print(f"{key}: call {wall:.0f} ms, build {build_ms:.0f} ms, "
              f"{len(jobs)} jobs, driver gap {wall - busy:.0f} ms, shuffle read "
              f"{sum(shuffle_read[j['job_id']] for _, j in jobs) / 1e6:.1f} MB, "
              f"gc {sum(gc_ms[j['job_id']] for _, j in jobs):.0f} ms"
              f"{'' if q.get('ok', True) else ' (FAILED)'}")
        by_site = collections.defaultdict(lambda: [0, 0.0, 0, 0])
        for site, j in jobs:
            acc = by_site[site]
            acc[0] += 1
            acc[1] += j["end_ms"] - j["start_ms"]
            acc[2] += gc_ms[j["job_id"]]
            acc[3] += shuffle_write[j["job_id"]]
        for site, (n, ms, gc, sw) in sorted(by_site.items(), key=lambda kv: -kv[1][1]):
            print(f"    {n:4d} jobs {ms:8.0f} ms  gc {gc:6.0f} ms  "
                  f"shuffle write {sw / 1e6:6.1f} MB  {site}")
    tables = sum(n for site, n in total_by_site.items() if "Tables.scala" in site)
    print(f"total over {n_calls} calls: {sum(total_by_site.values())} jobs, "
          f"Tables.scala: {tables}; by site: "
          + ", ".join(f"{site}: {n}" for site, n in total_by_site.most_common()))


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__.strip().splitlines()[2])
    for d in argv[1:]:
        report(d)


if __name__ == "__main__":
    main(sys.argv)

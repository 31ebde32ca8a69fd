#!/usr/bin/env python3
"""Local pre-flight of the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [--json out.json] [--procs N]
                                     [--timeout SECS]

Replicates the driver's compare as documented: for each key in
oracle_sql.json, register {sfDir}/{table}.parquet as DuckDB views, run the
oracle SQL, load our parquet dump from <verifyOutDir>/<key>/, sort columns
by name, and compare values exactly (floats: exact equality after a
round-trip through float64 — our hash-match discipline rounds/decimal-sums
so exact equality should hold; report max abs delta when it does not).

Round-14 hardening (the driver's CORRECTNESS_r13.json came back `{}`):
 - keys are compared on a PROCESS POOL (default: min(8, cpus)) — the serial
   sweep took ~20 min at 493 keys, inviting a driver-side time cap;
 - per-key results stream to stdout as they land AND (with --json) to an
   incrementally-rewritten JSON artifact, so a truncated run still leaves a
   per-key grade for every key that finished.

With `--timeout SECS`, a key's DuckDB query still running after SECS is
interrupted (`con.interrupt()` from a timer): it prints `TIMEOUT <key>
(<secs>s)`, is graded `"status": "timeout"` in the --json artifact and is
counted apart in the summary line. A timeout is never a pass: the exit code
is 1 if any key failed or timed out.
"""
import json
import math
import multiprocessing
import os
import sys
import threading

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)


_CON = None
_SF = None
_OUT = None
_THREADS = 4
_TIMEOUT = None


def _init(sf_dir, out_dir, duck_threads, timeout):
    global _CON, _SF, _OUT, _THREADS, _TIMEOUT
    import duckdb

    _SF, _OUT = sf_dir, out_dir
    _THREADS = duck_threads
    _TIMEOUT = timeout
    _CON = duckdb.connect()
    # cap per-connection DuckDB threads: N worker processes each defaulting
    # to all cores oversubscribes the box N-fold and slows the whole sweep
    _CON.execute(f"SET threads={duck_threads}")
    for t in TABLES:
        _CON.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")


# r14's wall-time hogs (2-17 min each). r15 rewrote their SQL with
# MATERIALIZED CTEs — all five now land <2 s — but keep them front-of-queue
# with a modest thread bonus: they remain the most expansion-prone plans if
# a future edit drops a MATERIALIZED again.
HEAVY = {"graph_edge_betweenness", "graph_betweenness", "llm_mmr_select",
         "graph_ppr_batch", "graph_percolation"}


def check_key(item):
    """Returns (key, status, detail, rows, secs, grade). status in
    pass|warn|fail|timeout."""
    import time

    t0 = time.time()
    key, sql = item
    import pyarrow.parquet as pq

    # heavy keys get a moderately larger slice but stay bounded so several
    # landing together can't oversubscribe the box _procs-fold (ADVICE r14)
    _CON.execute("SET threads={}".format(
        min(8, max(4, _THREADS * 2)) if key in HEAVY else _THREADS))

    # driver-schema self-grade fields (VERDICT r14 #8): rows_match /
    # schema_match / hash_match / err, so an empty driver artifact diffs
    # mechanically against the committed CORRECTNESS_SELF
    grade = {"rows_match": False, "schema_match": False,
             "hash_match": False, "err": None}

    def done(status, detail, rows):
        grade["err"] = detail or None
        return key, status, detail, rows, round(time.time() - t0, 2), dict(grade)

    fired = threading.Event()

    def interrupt():
        fired.set()
        _CON.interrupt()

    timer = threading.Timer(_TIMEOUT, interrupt) if _TIMEOUT else None
    try:
        got = pq.read_table(f"{_OUT}/{key}")
        if timer:
            timer.start()
        exp = _CON.execute(sql).fetch_arrow_table()
    except Exception as e:
        if fired.is_set():
            return done("timeout", f"timeout after {_TIMEOUT}s", 0)
        return done("fail", f"exec error: {e}", 0)
    finally:
        if timer:
            timer.cancel()
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        return done("fail", f"columns spark={gcols} duckdb={ecols}", got.num_rows)
    if got.num_rows != exp.num_rows:
        grade["schema_match"] = True  # columns agreed; types checked below
        return done("fail", f"rows spark={got.num_rows} duckdb={exp.num_rows}", got.num_rows)
    grade["rows_match"] = True
    gd = {c: got.column(c).to_pylist() for c in gcols}
    ed = {c: exp.column(c).to_pylist() for c in ecols}
    bad = []
    for c in gcols:
        for i, (a, b) in enumerate(zip(gd[c], ed[c])):
            # normalize numeric cross-type (e.g. DuckDB Decimal vs double)
            if isinstance(a, float) or isinstance(b, float) or type(a) != type(b):
                try:
                    fa, fb = float(a), float(b)
                    ok = (fa == fb) or (math.isnan(fa) and math.isnan(fb))
                    if not ok:
                        bad.append((c, i, a, b, abs(fa - fb)))
                    continue
                except (TypeError, ValueError):
                    pass
            if norm_cell(a) != norm_cell(b):
                bad.append((c, i, a, b, None))
    if not bad:
        grade["hash_match"] = True
    # schema check runs even on value failure: the self-grade carries all
    # three axes independently (the value error stays the reported detail)
    tmismatch = []
    for c in gcols:
        gt, et = str(got.schema.field(c).type), str(exp.schema.field(c).type)
        if gt != et:
            tmismatch.append(f"{c}: spark={gt} duckdb={et}")
    grade["schema_match"] = not tmismatch
    if bad:
        return done("fail", f"{len(bad)} cell diffs; first: {bad[0]}", got.num_rows)
    if tmismatch:
        return done("warn", f"values match but types differ: {tmismatch}", got.num_rows)
    return done("pass", "", got.num_rows)


def main(argv):
    sf_dir, out_dir = argv[0], argv[1]
    json_out = None
    procs = min(8, os.cpu_count() or 4)
    timeout = None
    i = 2
    while i < len(argv):
        if argv[i] == "--json":
            json_out = argv[i + 1]
            i += 2
        elif argv[i] == "--procs":
            procs = int(argv[i + 1])
            i += 2
        elif argv[i] == "--timeout":
            timeout = float(argv[i + 1])
            i += 2
        else:
            raise SystemExit(f"unknown arg {argv[i]}")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    # measured-heavy keys first (primary), then longest SQL (secondary):
    # the tail-dominating keys overlap the cheap bulk instead of following it
    items = sorted(oracles.items(),
                   key=lambda kv: (kv[0] not in HEAVY, -len(kv[1])))
    duck_threads = max(1, (os.cpu_count() or 8) // procs)
    results = {}
    n_pass = n_fail = n_timeout = 0
    with multiprocessing.Pool(procs, _init, (sf_dir, out_dir, duck_threads, timeout)) as pool:
        for key, status, detail, rows, secs, grade in pool.imap_unordered(check_key, items):
            if status == "timeout":
                n_timeout += 1
                print(f"TIMEOUT {key} ({secs}s)", flush=True)
            elif status == "fail":
                n_fail += 1
                print(f"FAIL {key}: {detail}", flush=True)
            elif status == "warn":
                n_pass += 1
                print(f"WARN {key}: {detail}", flush=True)
            else:
                n_pass += 1
                print(f"PASS {key} ({rows} rows, {secs}s)", flush=True)
            results[key] = {"status": status, "rows": rows, "secs": secs}
            results[key].update(grade)
            if detail:
                results[key]["detail"] = detail
            if json_out:  # rewritten per key: a truncated run keeps its grades
                with open(json_out + ".tmp", "w") as f:
                    json.dump(dict(sorted(results.items())), f, indent=0)
                os.replace(json_out + ".tmp", json_out)
    print(f"== {n_pass} pass, {n_fail} fail, {n_timeout} timeout, {len(oracles)} total")
    return 1 if n_fail or n_timeout else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

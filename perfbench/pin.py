#!/usr/bin/env python3
"""Re-pins the expected digest of every workload key at sf0.1.

    python3 perfbench/pin.py            # rewrites perfbench/pins.json

A digest is admitted only after the repository's DuckDB oracle check
(tools/check_oracle.py) passes the key against a `graft.Verify` dump of the
same data, made with a key filter. Each pin records how it was admitted:

  oracle           digest admitted after the oracle check passed
  self-pinned      the oracle SQL could not run at sf0.1; digest from the program
  oracle-mismatch  the program's answer differs from the oracle; no digest,
                   every call of the key counts as failed
  throws           the key throws at sf0.1; the error class is recorded and
                   every call of the key counts as failed

Keys are never dropped or re-seeded to make a pin pass.
"""
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    workloads = run.load("workloads.json")["workloads"]
    keys = sorted({k for w in workloads for k in w["keys"]})
    classpath = build.build()
    work = os.path.join(build.build_dir(), "work")
    pin_dir = os.path.join(build.build_dir(), "pin")
    dump = os.path.join(pin_dir, "verify")
    os.makedirs(pin_dir, exist_ok=True)

    rc = run.jvm("graft.Verify", [run.DATA, dump, ",".join(keys)], classpath, work, 3600)
    if rc != 0:
        sys.exit(f"graft.Verify exited with code {rc}")
    check = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check_oracle.py"),
                            run.DATA, dump, "--procs", "2"], capture_output=True, text=True)
    oracle = {}  # key -> (PASS|WARN|FAIL, detail)
    for line in check.stdout.splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict in ("PASS", "WARN", "FAIL"):
            key, _, detail = rest.partition(":" if verdict != "PASS" else " ")
            oracle[key.strip()] = (verdict, detail.strip())
    sys.stderr.write(check.stdout[-2000:])

    w = {"keys": keys}
    r = run.run_workload(w, 1, 1, 0, os.path.join(pin_dir, "digests"), classpath,
                         time.time() + 3600, warm=False)
    pins = {}
    for c in sorted(r["calls"], key=lambda c: c["key"]):
        k = c["key"]
        verdict, detail = oracle.get(k, ("NONE", "no oracle SQL"))
        if not c["ok"]:
            pins[k] = {"status": "throws", "error": c["error"]}
        elif verdict in ("PASS", "WARN"):
            pins[k] = {"status": "oracle", "digest": c["digest"], "rows": c["rows"]}
        elif verdict == "NONE" or detail.startswith("exec error"):
            pins[k] = {"status": "self-pinned", "digest": c["digest"], "rows": c["rows"],
                       "note": detail[:200]}
        else:
            pins[k] = {"status": "oracle-mismatch", "rows": c["rows"], "note": detail[:200]}
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump({"scale": "sf0.1", "pins": pins}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    counts = {}
    for p in pins.values():
        counts[p["status"]] = counts.get(p["status"], 0) + 1
    print(json.dumps(counts))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Alternating A/B summary of untraced perfbench runs.

Usage: python3 tools/ab_calls.py --parent <out-dir> [...] --change <out-dir> [...]

Each <out-dir> is the `--out` directory of one `perfbench.Main` run. The
i-th parent run and the i-th change run form pair i, so give both sides'
runs in the order they alternated. From each run's `calls.jsonl` (untraced
calls only; a traced call carries the listener's cost) this prints:

  - each key's median call ms per side and the change's ratio;
  - each run's total call ms, per pair, and which side won the pair;
  - the win count of the change over the pairs;
  - a check that every call was ok and that each key has one digest, the
    same on both sides.

It exits 1 when that check fails. The script only reads perfbench output.
"""
import argparse
import json
import os
import statistics
import sys


def load(out_dir):
    """The untraced calls of one run, as dicts from its calls.jsonl."""
    with open(os.path.join(out_dir, "calls.jsonl")) as f:
        calls = [json.loads(line) for line in f if line.strip()]
    return [c for c in calls if not c.get("traced", False)]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.strip().splitlines()[0])
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    a = ap.parse_args(argv[1:])
    if len(a.parent) != len(a.change):
        sys.exit(f"{len(a.parent)} parent runs against {len(a.change)} change runs")
    sides = {"parent": [load(d) for d in a.parent], "change": [load(d) for d in a.change]}

    keys = sorted({c["key"] for runs in sides.values() for run in runs for c in run})
    print(f"{'key':28s} {'parent ms':>10s} {'change ms':>10s} {'ratio':>7s}")
    for k in keys:
        med = {s: statistics.median([c["ms"] for run in runs for c in run if c["key"] == k])
               for s, runs in sides.items()}
        print(f"{k:28s} {med['parent']:10.0f} {med['change']:10.0f} "
              f"{med['change'] / med['parent']:7.3f}")

    wins = 0
    print(f"\n{'pair':>4s} {'parent total ms':>16s} {'change total ms':>16s}  winner")
    for i, (p, c) in enumerate(zip(sides["parent"], sides["change"]), 1):
        tp, tc = (sum(x["ms"] for x in run) for run in (p, c))
        wins += tc < tp
        print(f"{i:4d} {tp:16.0f} {tc:16.0f}  {'change' if tc < tp else 'parent'}")
    totals = {s: [sum(x["ms"] for x in run) for run in runs] for s, runs in sides.items()}
    print(f"median total: parent {statistics.median(totals['parent']):.0f} ms, "
          f"change {statistics.median(totals['change']):.0f} ms")
    print(f"change wins {wins} of {len(a.parent)} pairs")

    bad = []
    for s, runs in sides.items():
        bad += [f"{s}: {c['key']} failed" for run in runs for c in run if not c["ok"]]
    for k in keys:
        digests = {c["digest"] for runs in sides.values() for run in runs
                   for c in run if c["key"] == k and c["ok"]}
        if len(digests) != 1:
            bad.append(f"{k}: {len(digests)} digests {sorted(digests)}")
    if bad:
        print("CHECK FAILED:\n  " + "\n  ".join(bad))
        return 1
    print("check: every call ok, one digest per key on both sides")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

#!/usr/bin/env python3
"""Compare two sets of untraced run records.

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are each a run-record file or a directory of them (run.py
writes one per run under <build dir>/records/). For every end-to-end
metric of BENCHMARK.json and every workload present on both sides, it
prints each side's median and quartiles, the ratio of the medians with
its base, and a verdict against the metric's bound: better, worse, same
(within the bound, no gain shown) or unresolved (spread wider than the
bound). The rules are in benchlib/verdict.py.
"""
import json
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from benchlib.verdict import quartiles, verdict  # noqa: E402


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = defaultdict(list)
    for f in files:
        r = json.loads(f.read_text())
        if r.get("trace") == 0:
            runs[r["workload"]].append(r["metrics"])
    return runs


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    base, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':15s} {'metric':14s} {'base q1/med/q3 (n)':32s} "
          f"{'change q1/med/q3 (n)':32s} {'change/base':24s} verdict")
    for w in (w["name"] for w in spec["workloads"]):
        if not base[w] or not change[w]:
            continue
        for m in spec["end_to_end"]:
            b = [r[m["name"]] for r in base[w]]
            c = [r[m["name"]] for r in change[w]]
            bq, cq = quartiles(b), quartiles(c)
            side = "{:.4g}/{:.4g}/{:.4g} {} ({})"
            print(f"{w:15s} {m['name']:14s} "
                  f"{side.format(*bq, m['unit'], len(b)):32s} "
                  f"{side.format(*cq, m['unit'], len(c)):32s} "
                  f"{cq[1] / bq[1]:.3f} of {bq[1]:.4g} {m['unit']:6s} "
                  f"{verdict(b, c, m['better'], m['bound'])} (bound {m['bound']})")


if __name__ == "__main__":
    main()

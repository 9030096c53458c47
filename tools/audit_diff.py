#!/usr/bin/env python3
"""Plan-shape diff between two rounds' AUDIT.json files.

Usage: python3 tools/audit_diff.py OLD_AUDIT.json NEW_AUDIT.json [OUT.json]

For every query present in both audits, compares the physical-plan
shape counters (shuffles, bhj/smj/shj/nlj, single-partition windows)
and records whether the plan is identical. Purpose: make bench-drift disputes artifact-
decidable — a query whose plan is identical across rounds but whose
driver bench reading is slower is WINDOW DRIFT by construction (hot
box during the sweep), not a code regression, so the re-measure
protocol applies without debate.

Both audits must describe the same kind of plans: an AUDIT.json without
a "plans" key predates the executed-plan audit and counts as "static".
A static-vs-executed pair is refused with a one-line reason instead
of being read as a plan change on every query.

Output (OUT.json, default AUDIT_diff.json):
  {"old_sf": ..., "new_sf": ...,
   "n_common": N, "n_identical": K,
   "changed": {q: {"old": {...}, "new": {...}}},   # plan-shape deltas
   "added": [q...], "removed": [q...]}
"""
import json
import sys

KEYS = ("shuffles", "bhj", "smj", "shj", "nlj", "single_partition_windows")


def shape(entry):
    return {k: entry.get(k, 0) for k in KEYS}


def main(argv):
    old_path, new_path = argv[1], argv[2]
    out_path = argv[3] if len(argv) > 3 else "AUDIT_diff.json"
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    kinds = (old.get("plans", "static"), new.get("plans", "static"))
    if kinds[0] != kinds[1]:
        sys.exit(f"refusing to diff {kinds[0]} plans ({old_path}) "
                 f"against {kinds[1]} plans ({new_path})")
    oq, nq = old["queries"], new["queries"]
    common = sorted(set(oq) & set(nq))
    changed = {}
    for q in common:
        a, b = shape(oq[q]), shape(nq[q])
        if a != b:
            changed[q] = {"old": a, "new": b}
    out = {
        "old_sf": old.get("sf"), "new_sf": new.get("sf"),
        "n_common": len(common),
        "n_identical": len(common) - len(changed),
        "changed": changed,
        "added": sorted(set(nq) - set(oq)),
        "removed": sorted(set(oq) - set(nq)),
    }
    json.dump(out, open(out_path, "w"), indent=1, sort_keys=True)
    print(f"common={len(common)} identical={out['n_identical']} "
          f"changed={len(changed)} added={len(out['added'])} "
          f"removed={len(out['removed'])} -> {out_path}")
    for q, d in changed.items():
        print(f"  {q}: {d['old']} -> {d['new']}")


if __name__ == "__main__":
    main(sys.argv)

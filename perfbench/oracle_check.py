#!/usr/bin/env python3
"""Cross-check the expected output digests against the DuckDB oracle.

    python3 perfbench/oracle_check.py [--write]

For each fixture set the workloads use, runs graft.Verify on the
workloads' queries, checks that dump with tools/check_oracle.py (DuckDB
replays each query's oracle SQL on the same fixtures), then digests
every oracle-checked output with perfbench.DigestDirs and compares the
digests with perfbench/expected/digests.json. With --write, and only
when the oracle check passes, the file is replaced by the dump's
digests. Needs the repository's tools/ directory and Python's duckdb.
"""
import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict

import run
from benchlib import workloads


def java(classes, tmp, main, *args, **kw):
    cmd = (["java"] + run.JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
           f"{classes}{os.pathsep}{run.build.spark_jars()}/*", main] + list(args))
    return subprocess.run(cmd, check=True, **kw)


def main():
    write = sys.argv[1:] == ["--write"]
    classes, _ = run.build.build()
    work = run.build.build_dir() / "oracle"
    shutil.rmtree(work, ignore_errors=True)
    by_data = defaultdict(list)
    for w in workloads.WORKLOADS.values():
        by_data[run.HERE / "data" / w["data"]] += w["queries"]
    digests, ok = {}, True
    try:
        for data, queries in by_data.items():
            out, tmp = work / data.name, work / data.name / "tmp"
            tmp.mkdir(parents=True)
            java(classes, tmp, "graft.Verify", str(data), str(out), ",".join(queries),
                 stderr=subprocess.DEVNULL)
            r = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check_oracle.py"),
                                str(data), str(out)])
            ok = ok and r.returncode == 0
            dump = java(classes, tmp, "perfbench.DigestDirs",
                        *[str(out / q) for q in queries],
                        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            digests.update(json.loads(dump.stdout.strip().splitlines()[-1]))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    expected = json.loads(run.EXPECTED.read_text())
    same = {q for q in digests if expected.get(q) == digests[q]}
    print(f"oracle check {'passed' if ok else 'FAILED'}; "
          f"{len(same)}/{len(digests)} digests equal the expected ones")
    for q in sorted(set(digests) - same):
        print(f"  {q}: dump {digests[q]} expected {expected.get(q)}")
    if write and ok:
        run.EXPECTED.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
        print(f"wrote {run.EXPECTED}")
    sys.exit(0 if ok and (write or len(same) == len(digests)) else 1)


if __name__ == "__main__":
    main()

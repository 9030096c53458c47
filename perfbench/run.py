#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source (perfbench/harness/
build.py), then for one workload:
  1. starts one harness process and times set-up: from process start
     until the session is ready and every fixture table has been read
     once;
  2. runs the first pass, then warm passes for --seconds, each pass in
     an order the seed permutes;
  3. checks every query execution's output digest against
     perfbench/expected/digests.json (untimed);
  4. writes the self-describing run record under <build dir>/records/
     and prints every metric by name and unit, then, as the last line,
     one JSON object: correct, attempted, failed, metrics.

--trace 0 reports the end-to-end metrics; --trace 1 registers the
listeners and reports the per-layer metrics. Each run uses its own
java.io.tmpdir and spark.local.dir under the build directory and
deletes them when it ends.
"""
import argparse
import datetime
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE / "harness"))

import build  # noqa: E402
from benchlib import digests, metrics  # noqa: E402
from benchlib.workloads import WORKLOADS  # noqa: E402

ROOT = build.ROOT
EXPECTED = HERE / "expected" / "digests.json"
MIN_WARM = 3          # warm passes a run makes even past --seconds
JVM_TIMEOUT_S = 170   # a run must end within 180 s
JVM_OPTS = ["-Xmx3g"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def jvm(classes, run_dir, args, deadline):
    """Run one harness process; return (spawn epoch ms, setup seconds,
    exit code). Set-up is timed from the spawn to the harness's ready
    line. The process is killed at the deadline."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
           f"{classes}{os.pathsep}{build.spark_jars()}/*", "perfbench.Harness"] + args)
    with open(run_dir / "harness.log", "ab") as err:
        spawn_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=run_dir)
        watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        watchdog.start()
        setup_s = None
        try:
            for line in proc.stdout:
                if setup_s is None and line.strip() == b"PERFBENCH_READY":
                    setup_s = time.perf_counter() - t0
            rc = proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    return spawn_ms, setup_s, rc


def steal_s():
    """Seconds of CPU stolen from this machine by its host so far (all
    CPUs), or None where /proc/stat is not available."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workload = WORKLOADS[a.workload]
    data = HERE / "data" / workload["data"]
    if not (data / "lineitem.parquet").is_file():
        sys.exit(f"fixture data missing under {data}")
    try:
        classes, source_sha = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    deadline = time.monotonic() + JVM_TIMEOUT_S

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}"
    record_path = build.build_dir() / "records" / f"{tag}.json"
    record_path.parent.mkdir(parents=True, exist_ok=True)
    load_start, steal_start = os.getloadavg(), steal_s()
    run_dir = build.build_dir() / "runs" / tag
    raw = run_dir / "raw.json"
    try:
        spawn_ms, setup_s, rc = jvm(classes, run_dir, [
            "--data", str(data), "--run-dir", str(run_dir),
            "--queries", ",".join(workload["queries"]), "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--min-warm", str(MIN_WARM),
            "--trace", str(a.trace), "--record", str(raw)], deadline)
        if rc != 0 or setup_s is None or not raw.is_file():
            log((run_dir / "harness.log").read_text(errors="replace")[-4000:])
            sys.exit(f"harness process exited with {rc}")
        raw_record = json.loads(raw.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    executions = [dict(q, **{"pass": p["pass"]})
                  for p in raw_record["passes"] for q in p["queries"]]
    failures = digests.check(digests.load(EXPECTED), executions)
    for name, pass_no, reason in failures:
        log(f"FAIL {name} pass {pass_no}: {reason}")

    record = {
        "workload": a.workload, "data": workload["data"], "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace,
        "commit": commit(), "source_sha": source_sha, "cores": os.cpu_count(),
        "heap_opt": JVM_OPTS[0], "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "steal_s": None if steal_start is None else steal_s() - steal_start,
        "setup_s": setup_s, "attempted": len(executions), "failed": len(failures),
        "error_rate": len(failures) / len(executions),
        "failures": [{"name": n, "pass": p, "reason": r} for n, p, r in failures],
        "raw": raw_record,
    }
    if a.trace:
        values, detail = metrics.per_layer(raw_record)
        units = metrics.PER_LAYER
        record["per_query_layers"] = detail
        record["spans"] = metrics.spans(raw_record, setup_s, spawn_ms)
    else:
        values, info = metrics.end_to_end(raw_record, setup_s)
        units = metrics.END_TO_END
        record.update(info)
    record["metrics"] = values
    record_path.write_text(json.dumps(record))

    for k, v in values.items():
        print(f"{k:32s} {v:14.6f} {units[k]}")
    if not a.trace:
        print(f"{record['warm_passes']} warm passes, {record['query_samples']} query samples; "
              f"query_p50_s {record['query_p50_s']} s, query_tail_s {record['query_tail_s']} "
              f"(p{record['tail_percentile']})")
    print(f"error_rate {record['error_rate']:.6f} ({len(failures)}/{len(executions)}); "
          f"record {record_path}")
    print(json.dumps({
        "correct": not failures, "attempted": len(executions), "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one graftbench workload and print its record.

    python3 graftbench/run.py --workload mj_batch --seed 1 --seconds 8 --trace 0

Builds graft and the driver first when their sources changed (build.py),
then runs the driver in one JVM with graft's fork options. The last line
of standard output is the result: {"correct", "attempted", "failed",
"metrics"}; the line before it carries the run's details (failures,
per-pass samples, canary times, input sizes and, when traced, every span).
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
`--size` scales the inputs (tests use a small fraction) and `--corrupt
<op>` damages one operation's output before its check (negative test).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_LIMIT_S = 175      # a run must end within 180 s
FIRST_RUN_LIMIT_S = 880  # ... or 900 s when it builds first
HEAP = "3g"


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], required=True)
    p.add_argument("--size", type=float, default=1.0)
    p.add_argument("--corrupt", default=None)
    a = p.parse_args()
    t0 = time.monotonic()
    try:
        classpath, jvm, built = build.ensure_built()
    except build.BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        return 2
    deadline = t0 + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S)

    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "record.json")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *jvm,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", classpath, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--size", str(a.size), "--work", work, "--out", out]
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("[graftbench] run exceeded its time limit", file=sys.stderr)
        rc = None
    finally:
        _stop(proc)
        try:
            with open(out, encoding="utf-8") as f:
                record = json.load(f)
        except (OSError, ValueError):
            record = None
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or record is None:
        print(f"[graftbench] driver exited with {rc} and no record", file=sys.stderr)
        return 1
    print(json.dumps({"detail": record["detail"]}))
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def _stop(proc):
    """Stop the JVM's whole process group and wait for it."""
    if proc.poll() is not None:
        return
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        try:
            proc.wait(timeout=grace)
            return
        except subprocess.TimeoutExpired:
            continue


if __name__ == "__main__":
    sys.exit(main())

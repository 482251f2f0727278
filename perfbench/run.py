#!/usr/bin/env python3
"""Identity-chain benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload sf_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. Starts `worker.py` (the Spark driver) in its own
process group, captures its log, counts the ERROR and WARN lines of the Spark
log, and prints a report followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones. All
files go to .perfbench_work/ under the repository root. Exits 1 when an
output check failed and 2 when the benchmark could not run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sf_batch", "sf_fold")
WORKER_TIMEOUT_S = 165
LOG_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (ERROR|WARN) ")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def group_alive(pgid: int) -> bool:
    """Whether a process of the group is still running. Exited processes
    that are not reaped yet (zombies re-parented to init) do not count."""
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] not in "ZX":
            return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Terminate whatever is left of the worker's process group (the JVM and
    its Python workers) and wait until none of it runs."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not group_alive(proc.pid):
            return
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + 10.0
        while time.monotonic() < end and group_alive(proc.pid):
            time.sleep(0.1)


def run_worker(args, work: str) -> tuple:
    out_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "spark.log")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        TMPDIR=os.path.join(work, "tmp"),
        # Spark's scratch space (overrides any SPARK_LOCAL_DIRS inherited)
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # the spark-submit launcher JVM: no hsperfdata files under /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        # Spark's Python workers run the same interpreter as worker.py
        PYSPARK_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
        "--out", out_path,
    ]
    # a SIGTERM to this process still stops the worker's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd,
            cwd=work,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
            proc.wait()
    counts = {"ERROR": 0, "WARN": 0}
    with open(log_path, errors="replace") as fh:
        for line in fh:
            m = LOG_LINE.match(line)
            if m:
                counts[m.group(1)] += 1
    if code != 0 or not os.path.exists(out_path):
        with open(log_path, errors="replace") as fh:
            tail = fh.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"worker {'timed out' if code is None else f'exited {code}'}; log: {log_path}")
    with open(out_path) as fh:
        return json.load(fh), counts


def end_to_end(res: dict) -> dict:
    setup = res["setup"]
    resolve = statistics.median(res["untraced_s"])
    return {
        "resolve_s": (resolve, "s"),
        "turns_per_s": (res["turns_per_rep"] / resolve, "turns/s"),
        "setup_s": (
            setup["session_s"]
            + statistics.median(setup["build_s"])
            + setup["bootstrap_s"]
            + setup["warmup_s"],
            "s",
        ),
    }


def tail(times: list) -> tuple:
    """The highest percentile with at least ten samples beyond it, or the
    maximum when the run holds fewer than eleven samples."""
    n = len(times)
    if n < 11:
        return max(times), f"max of n={n}; no percentile has 10 samples beyond it"
    k = n - 11  # index with 10 samples above it
    return sorted(times)[k], f"p{100 * (k + 1) // n} of n={n}"


def per_layer(res: dict) -> dict:
    sys.path.insert(0, HERE)
    from worker import per_layer_metrics

    trace = res.get("trace", {})
    values = dict(trace.get("extra", {}))
    for layer, row in trace.get("layers", {}).items():
        values.update({f"{layer}.{k}": v for k, v in row.items()})
    return {name: (values.get(name, 0), unit) for name, unit in per_layer_metrics()}


def report(res: dict, counts: dict, metrics: dict) -> None:
    print(f"workload {res['workload']}  context {json.dumps(res['context'])}")
    print(f"fingerprint {json.dumps(res['fingerprint'])}")
    print(f"setup {json.dumps(res['setup'])}")
    t, how = tail(res["untraced_s"])
    f1 = [x for x in res["pair_f1"] if x is not None]
    print(f"resolve_tail_s {t:.4f} s ({how})")
    print(f"pair_f1 {min(f1) if f1 else float('nan'):.6f} ratio (min over reps)")
    print(f"failed_frac {res['failed'] / res['attempted']:.4f} ratio ({res['failed']}/{res['attempted']})")
    print(f"log_error_lines {counts['ERROR']} count")
    print(f"log_warn_lines {counts['WARN']} count")
    print(f"jvm_peak_rss_mb {res['jvm_peak_rss_mb']:.1f} MB")
    for e in res["errors"]:
        print(f"error {e}")
    trace = res.get("trace")
    if trace:
        cols = ["wall_s", "self_s", "rows_in", "rows_out", "jobs", "stages", "tasks",
                "cpu_s", "slot_busy_frac", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "peak_exec_mem_bytes", "py_time_s", "py_bytes_sent",
                "py_bytes_received"]
        print(f"layers (median of {trace['traced_reps']} traced reps)")
        print("  " + "layer".ljust(24) + " ".join(c.rjust(12) for c in cols))
        for layer, row in trace["layers"].items():
            if layer == "chain":
                continue
            print("  " + layer.ljust(24) + " ".join(f"{row.get(c, 0):12.4g}" for c in cols))
        print(f"  chain {json.dumps(trace['layers']['chain'])}")
        print(f"  extra {json.dumps(trace['extra'])}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "email_address_parser_spark", "__init__.py")):
        fail(f"no email_address_parser_spark package under {ROOT}")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        fail("pyspark is not importable")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    res, counts = run_worker(args, work)

    metrics = per_layer(res) if args.trace else end_to_end(res)
    report(res, counts, metrics)
    correct = res["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

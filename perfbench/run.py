"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the workload's input from
the seed (cached under perfbench/.data, never timed), starts one fresh
worker process (perfbench/worker.py) that runs the workload on
local[4], and prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the worker records spans around every layer call and the
metrics are the per-layer metrics. The line before it is a JSON object
with the environment stamp, the input manifest, every operation's
timing and the name and error of every failed operation.

Everything the run writes stays under perfbench/ (inputs in .data, work
directories, Spark's temporary directories and traces in .out). Exits non-zero
without a result when the program is missing or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import machine  # noqa: E402
import metrics as M  # noqa: E402

PROGRAM = os.path.join(ROOT, "duckdb_retail_pipeline_spark", "__init__.py")
OUT_DIR = os.path.join(HERE, ".out")
RUN_TIMEOUT_S = 170.0
CORES = 4
# one stated JVM heap for every workload, identical on both sides of
# every comparison
HEAP = "1g"


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM, Python
    workers), and wait until all of them have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        if proc.poll() is None:
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.monotonic() + 10
        while machine.pids_in_group(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not machine.pids_in_group(proc.pid) and proc.poll() is not None:
            return


def worker_env(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    return env


def metrics_line(result: dict, trace: bool) -> dict:
    if trace:
        names = [(n, u) for n, u, _ in M.per_layer()]
        values = result["per_layer"]
    else:
        names = [(n, u) for n, u, _, _ in M.END_TO_END]
        values = result["end_to_end"]
    metrics = {}
    for name, unit in names:
        v = float(values[name])
        metrics[name] = {"value": v if math.isfinite(v) else 0.0, "unit": unit}
    failed = len(result["failed"])
    return {
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(M.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    if not os.path.exists(PROGRAM):
        print(f"program not found: {PROGRAM} (run from the root of a checkout)", file=sys.stderr)
        return 2

    data_dir, manifest = gen.ensure_inputs(args.workload, args.seed)
    print(
        f"input {args.workload} seed={args.seed} rows={manifest['rows']} "
        f"bytes={manifest['bytes']} checksum={manifest['checksum']}",
        file=sys.stderr,
    )

    stamp = {"nproc": os.cpu_count(), "cores_used": CORES, "heap": HEAP}
    stamp["loadavg_before"] = list(os.getloadavg())
    steal0, jiffies0 = machine.steal_jiffies()
    stamp["calibrate_before_s"] = machine.calibrate_s()

    work = os.path.join(OUT_DIR, f"run-{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_file = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--data", str(data_dir), "--work", work,
        "--seconds", str(args.seconds), "--seed", str(args.seed),
        "--trace", str(args.trace), "--input-bytes", str(manifest["bytes"]),
        "--out", out_file,
    ]
    env = worker_env(work)
    # a SIGTERM to this process still stops the worker's group (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0, cpu0 = time.monotonic(), machine.cpu_s()
    result = None
    try:
        proc = subprocess.Popen(
            cmd + ["--t0", repr(t0), "--cpu0", repr(cpu0)], cwd=ROOT, env=env,
            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(10.0, RUN_TIMEOUT_S - (t0 - started)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            t_done = time.monotonic()
            stop_group(proc)
        if code == 0 and os.path.exists(out_file):
            with open(out_file) as f:
                result = json.load(f)
        if args.trace and result and result.get("trace_file"):
            kept = os.path.join(OUT_DIR, os.path.basename(result["trace_file"]))
            os.replace(result["trace_file"], kept)
            result["trace_file"] = os.path.relpath(kept, ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        why = "timed out" if code is None else f"exited with code {code}"
        print(f"worker {why}; no result", file=sys.stderr)
        return 1

    steal1, jiffies1 = machine.steal_jiffies()
    stamp["steal_pct"] = (
        100.0 * (steal1 - steal0) / (jiffies1 - jiffies0) if jiffies1 > jiffies0 else None
    )
    stamp["calibrate_after_s"] = machine.calibrate_s()
    stamp["loadavg_after"] = list(os.getloadavg())
    stamp.update(result.pop("env"))
    stamp["run_wall_s"] = time.monotonic() - started
    stamp["worker_wall_s"] = t_done - t0
    stamp["input"] = manifest
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": stamp, **result}
    print(json.dumps(detail))
    print(json.dumps(metrics_line(result, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())

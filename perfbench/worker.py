"""One benchmark run in a fresh process, started by run.py.

The process builds the program's SparkSession on local[4], runs one
workload as a single client in a closed loop, reads Spark's counters
passively after the timed region, checks every output against its DuckDB
oracle (also outside the timed region) and writes one JSON result file.
With ``--trace 1`` it first installs the span wrappers of spans.py.

Every operation records its wall time and the CPU it uses directly
(OpCpu). The pass totals and set-up use the machine's CPU time
(machine.cpu_s), which also counts JIT compilation and GC.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import asdict, dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import gate  # noqa: E402
import machine  # noqa: E402
import metrics as M  # noqa: E402
import spans  # noqa: E402


@dataclass
class Op:
    """One operation: a query execution or a layer write."""

    name: str
    phase: str
    wall_s: float = 0.0
    # direct CPU: the client thread's share while the operation ran, plus
    # the Spark task CPU of the jobs tagged with ``group`` (OpCpu)
    cpu_s: float = 0.0
    group: str = ""
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    # warehouse directory of a layer write
    where: str | None = None
    # kept for the gate, dropped from the result file
    rows: list | int | None = field(default=None, repr=False)
    cols: list | None = field(default=None, repr=False)
    decimal_cols: list = field(default_factory=list, repr=False)


@dataclass
class Run:
    spark: object
    data: str
    work: str
    seconds: float
    seed: int
    tracer: spans.Tracer | None
    clock: OpCpu
    ops: list[Op] = field(default_factory=list)
    pass_wall_s: float = 0.0
    pass_cpu_s: float = 0.0
    pass_window: tuple[float, float] = (0.0, 0.0)
    details: dict = field(default_factory=dict)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def set_phase(self, phase: str) -> None:
        if self.tracer:
            self.tracer.phase = phase


class OpCpu:
    """CPU an operation uses directly: the Python client process and the
    JVM thread serving it (read at the operation's boundaries), plus the
    executor CPU of the Spark jobs submitted under the operation's job
    group (read from the status store after the run). Background work
    is left out: on a fresh JVM, background JIT compilation made the
    machine's CPU per warm round fall from 7.7 to 3.8 s over five rounds
    of constant wall time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._threads = self.sc._jvm.java.lang.management.ManagementFactory.getThreadMXBean()

    def client_s(self) -> float:
        return time.process_time() + self._threads.getCurrentThreadCpuTime() / 1e9

    def tag(self, group: str) -> None:
        """Jobs submitted from now on belong to ``group``."""
        self.sc.setJobGroup(group, group)

    def add_task_cpu(self, ops: list[Op]) -> None:
        """Add each operation's executor CPU to ``op.cpu_s``. A stage is
        counted once, for the first operation whose jobs list it."""
        gateway, jvm = self.sc._gateway, self.sc._jvm
        stages = self.sc._jsc.sc().statusStore().stageList(
            None, False, False, gateway.new_array(jvm.double, 0), None
        )
        stage_ns: dict[int, int] = {}
        for i in range(stages.size()):
            st = stages.apply(i)
            stage_ns[st.stageId()] = stage_ns.get(st.stageId(), 0) + st.executorCpuTime()
        tracker, seen = self.sc.statusTracker(), set()
        for op in ops:
            if not op.group:  # a layer that was never written
                continue
            for job in sorted(tracker.getJobIdsForGroup(op.group)):
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    if sid not in seen:
                        seen.add(sid)
                        op.cpu_s += stage_ns.get(sid, 0) / 1e9


def percentile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method); the value itself for one sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# ---------------------------------------------------------------- workloads


@contextlib.contextmanager
def layer_marks(clock: OpCpu, prefix: str):
    """Yield a list that gets (layer, wall, client CPU) appended each time
    DataFrameWriter.parquet returns: the operation boundaries of a
    run_pipeline build. The jobs between two boundaries are tagged with
    the job group ``<prefix>-<n>`` of the n-th operation."""
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet
    marks: list[tuple[str, float, float]] = []

    @functools.wraps(orig)
    def parquet(self, path, *args, **kwargs):
        out = orig(self, path, *args, **kwargs)
        marks.append((os.path.basename(os.path.normpath(str(path))), time.perf_counter(), clock.client_s()))
        clock.tag(f"{prefix}-{len(marks)}")
        return out

    DataFrameWriter.parquet = parquet
    clock.tag(f"{prefix}-0")
    try:
        yield marks
    finally:
        DataFrameWriter.parquet = orig


def etl_build(run: Run) -> None:
    """run_pipeline into an empty warehouse directory. Builds repeat into
    fresh directories until ``seconds`` have passed (at least one); the
    metrics come from the first, cold build. Each layer write is one
    operation, from the end of the previous layer's write to the end of
    its own."""
    from duckdb_retail_pipeline_spark.pipeline.run import run_pipeline

    run.set_phase("etl")
    builds = []
    t_start = time.perf_counter()
    while True:
        wh = os.path.join(run.work, f"warehouse{len(builds)}")
        prefix = f"build{len(builds)}"
        t0, m0, c0 = time.perf_counter(), machine.cpu_s(), run.clock.client_s()
        error = None
        with layer_marks(run.clock, prefix) as marks:
            try:
                run_pipeline(run.spark, run.data, wh)
            except Exception as exc:  # noqa: BLE001 — recorded as failed layer writes
                error = f"run_pipeline: {exc!r}"[:500]
        t1, m1 = time.perf_counter(), machine.cpu_s()
        builds.append((wh, prefix, t0, c0, marks, error))
        run.details.setdefault("builds_wall_s", []).append(t1 - t0)
        if len(builds) == 1:
            run.pass_wall_s, run.pass_cpu_s, run.pass_window = t1 - t0, m1 - m0, (t0, t1)
        if t1 - t_start >= run.seconds:
            break
    for i, (wh, prefix, t0, c0, marks, error) in enumerate(builds):
        done = {layer: (n, t, c) for n, (layer, t, c) in enumerate(marks)}
        prev = (t0, c0)
        for layer in M.LAYER_ORDER:
            op = Op(name=layer, phase="etl" if i == 0 else "etl_rebuild", where=wh)
            if layer in done:
                n, t, c = done[layer]
                op.wall_s, op.cpu_s, op.group = t - prev[0], c - prev[1], f"{prefix}-{n}"
                prev = (t, c)
            else:
                op.error = error or "layer not written"
            run.ops.append(op)


def _resolve(codes: tuple[str, ...]) -> dict:
    from duckdb_retail_pipeline_spark.queries import REGISTRY

    out = {}
    for code in codes:
        names = [n for n in REGISTRY if n.split("_")[0] == code]
        if len(names) != 1:
            raise KeyError(f"query {code!r} resolves to {names}")
        out[code] = REGISTRY[names[0]]
    return out


def run_query(run: Run, code: str, spec, phase: str) -> Op:
    """One query operation: plan build (``spec.fn``) then ``collect()``."""
    op = Op(name=code, phase=phase, group=f"op{len(run.ops)}")
    run.clock.tag(op.group)
    c0, t0 = run.clock.client_s(), time.perf_counter()
    try:
        with run.span(f"queries.{code}.build"):
            df = spec.fn(run.spark, run.data)
        t1 = time.perf_counter()
        with run.span(f"queries.{code}.exec"):
            rows = df.collect()
        t2, c2 = time.perf_counter(), run.clock.client_s()
    except Exception as exc:  # noqa: BLE001 — a failed operation, counted and named
        op.wall_s, op.cpu_s = time.perf_counter() - t0, run.clock.client_s() - c0
        op.error = f"{exc!r}"[:500]
        return op
    op.build_s, op.exec_s, op.wall_s, op.cpu_s = t1 - t0, t2 - t1, t2 - t0, c2 - c0
    op.rows = [tuple(r) for r in rows]
    op.cols = list(df.columns)
    op.decimal_cols = [f.name for f in df.schema.fields if "decimal" in f.dataType.simpleString()]
    return op


def query_session(run: Run, mix: tuple[str, ...]) -> None:
    """A cold pass over the mix in its listed order, then a warm closed
    loop of whole rounds (each query once per round, in a seeded order)
    until ``seconds`` have passed. pass_cpu_s is the machine's CPU over
    the cold pass. The cold order is fixed because it decides which query
    pays for JIT and for building the shared pipeline layers: a seeded
    order moved the cold total by 45% between seeds on the same data size."""
    specs = _resolve(mix)
    rng = random.Random(run.seed)
    run.set_phase("cold")
    t_cold, m_cold = time.perf_counter(), machine.cpu_s()
    for code in mix:
        run.ops.append(run_query(run, code, specs[code], "cold"))
    run.pass_window = (t_cold, time.perf_counter())
    run.pass_cpu_s = machine.cpu_s() - m_cold
    run.pass_wall_s = sum(op.wall_s for op in run.ops if op.phase == "cold")
    run.set_phase("warm")
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < run.seconds:
        for code in rng.sample(mix, len(mix)):
            op = run_query(run, code, specs[code], "warm")
            if op.rows is not None:
                # warm results must equal the oracle-checked cold result;
                # keep a fingerprint instead of every row set
                op.rows = gate.fingerprint(op.rows, op.cols)
            run.ops.append(op)


WORKLOADS = {
    "etl_build": etl_build,
    "analyst_session": lambda run: query_session(run, M.ANALYST_MIX),
}


# ---------------------------------------------------------------- correctness


def check_outputs(run: Run, workload: str) -> None:
    """Set ``op.error`` on every operation whose output is wrong."""
    from duckdb_retail_pipeline_spark.queries import REGISTRY

    oracle = gate.Oracle(run.data)
    try:
        if workload == "etl_build":
            todo = [op for op in run.ops if not op.error]
            items = []
            for op in todo:
                qname = gate.LAYER_ORACLES[op.name]
                items.append((op.name, os.path.join(op.where, op.name),
                              REGISTRY[qname].oracle if qname else None))
            for op, err in zip(todo, gate.check_layers(oracle, items)):
                op.error = err
            return
        specs = _resolve(tuple(dict.fromkeys(op.name for op in run.ops)))
        cold = [op for op in run.ops if op.phase == "cold" and not op.error]
        items = [(specs[op.name].oracle, op.rows, op.cols, op.decimal_cols) for op in cold]
        cold_fp = {}
        for op, err in zip(cold, gate.check_queries(oracle, items)):
            op.error = err
            cold_fp[op.name] = None if err else gate.fingerprint(op.rows, op.cols)
        for op in run.ops:
            if op.error or op.phase != "warm":
                continue
            if cold_fp.get(op.name) is None:
                op.error = "cold result unavailable or wrong; warm result unverified"
            elif op.rows != cold_fp[op.name]:
                op.error = "warm result differs from the oracle-checked cold result"
    finally:
        oracle.close()


# ---------------------------------------------------------------- passive counters


def spark_counters(spark) -> dict[str, float]:
    """Totals read from Spark's status store and block manager."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    out = dict.fromkeys((n for n, _ in M.SPARK_COUNTERS), 0.0)
    jobs = store.jobsList(None)
    out["jobs"] = float(max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1)
    executors = store.executorList(True)
    for i in range(executors.size()):
        e = executors.apply(i)
        out["tasks"] += e.totalTasks()
        out["task_run_s"] += e.totalDuration() / 1000.0
        out["gc_s"] += e.totalGCTime() / 1000.0
        out["input_bytes"] += e.totalInputBytes()
        out["shuffle_write_bytes"] += e.totalShuffleWrite()
    stages = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    for i in range(stages.size()):
        s = stages.apply(i)
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    for info in jsc.getRDDStorageInfo():
        out["cached_mem_bytes"] += info.memSize()
        out["cached_disk_bytes"] += info.diskSize()
    return out


# ---------------------------------------------------------------- metrics


def loop_ops(run: Run) -> list[Op]:
    """The operations the latency metrics are taken over: the first
    build's layer writes, or the warm loop's queries."""
    return [op for op in run.ops if op.phase in ("etl", "warm") and not op.error]


def end_to_end(run: Run, setup_cpu_s: float, rss_mb: float) -> dict[str, float]:
    cpu = [op.cpu_s for op in loop_ops(run)]
    attempted = len(run.ops)
    failed = sum(1 for op in run.ops if op.error)
    return {
        "setup_s": setup_cpu_s,
        "pass_cpu_s": run.pass_cpu_s,
        "op_cpu_p50_ms": 1000.0 * statistics.median(cpu) if cpu else float("nan"),
        "op_cpu_p90_ms": 1000.0 * percentile(cpu, 90) if cpu else float("nan"),
        "peak_rss_mb": rss_mb,
        "success_rate": (attempted - failed) / attempted if attempted else 0.0,
    }


def loop_summary(run: Run, setup_wall_s: float) -> dict[str, float | int | None]:
    """For the details line: the wall-clock twins of the end-to-end time
    metrics and the sample count of the op percentiles."""
    wall = [op.wall_s for op in loop_ops(run)]
    return {
        "setup_wall_s": setup_wall_s,
        "pass_wall_s": run.pass_wall_s,
        "op_wall_p50_ms": 1000.0 * statistics.median(wall) if wall else None,
        "op_wall_p90_ms": 1000.0 * percentile(wall, 90) if wall else None,
        "op_samples": len(wall),
    }


def per_layer(run: Run, setup_wall_s: float, counters: dict, input_bytes: int) -> dict[str, float]:
    """Per-layer metrics from the spans of a traced run (wall seconds)."""
    out = dict.fromkeys((n for n, _, _ in M.per_layer()), 0.0)
    out["session.start_s"] = setup_wall_s
    tracer = run.tracer
    selfs = tracer.self_times()
    lo, hi = run.pass_window
    top_level = []
    for s, self_s in zip(tracer.spans, selfs):
        name = s.name
        parts = name.split(".")
        if name.startswith("pipeline.") and parts[-1] == "plan":
            out[f"pipeline.{parts[1]}.plan_s"] += s.duration
            out["self.pipeline_plan_s"] += self_s
        elif name.startswith("pipeline.") and parts[-1] == "write":
            layer = parts[1]
            if f"pipeline.{layer}.write_s" in out and s.attrs.get("phase") == "etl":
                out[f"pipeline.{layer}.write_s"] += s.duration
                out[f"pipeline.{layer}.bytes"] += s.attrs.get("bytes", 0)
            out["self.parquet_write_s"] += self_s
        elif name == "memo.build":
            out["self.memo_build_s"] += self_s
        elif name.startswith("memo."):
            out["self.memo_s"] += self_s - s.attrs.get("build_s", 0.0)
        elif name.startswith("queries."):
            key = "self.query_build_s" if parts[-1] == "build" else "self.query_exec_s"
            out[key] += self_s
        if s.parent is None and lo <= s.start and s.end <= hi:
            top_level.append((s.start, s.end))
    written = sum(out[f"pipeline.{layer}.bytes"] for layer in M.LAYER_ORDER)
    out["pipeline.write_amp"] = written / input_bytes if input_bytes else 0.0

    for op in run.ops:
        if op.phase == "cold" and not op.error:
            out[f"queries.{op.name}.build_s"] = op.build_s
            out[f"queries.{op.name}.exec_s"] = op.exec_s
    warm: dict[str, list[float]] = {}
    for op in run.ops:
        if op.phase == "warm" and not op.error:
            warm.setdefault(op.name, []).append(op.wall_s)
    for code, values in warm.items():
        out[f"queries.{code}.warm_s"] = statistics.median(values)

    for phase in M.MEMO_PHASES:
        entries = [
            (s, st) for s, st in zip(tracer.spans, selfs)
            if s.attrs.get("phase") == phase and "memo" in s.attrs
        ]
        builds = [
            (s.start, s.end) for s in tracer.spans
            if s.attrs.get("phase") == phase and (s.name == "memo.build" or "build_s" in s.attrs)
        ]
        calls = len(entries)
        out[f"memo.{phase}.calls"] = float(calls)
        out[f"memo.{phase}.hit_ratio"] = (
            sum(1 for s, _ in entries if s.attrs.get("hit")) / calls if calls else 0.0
        )
        out[f"memo.{phase}.self_s"] = sum(st - s.attrs.get("build_s", 0.0) for s, st in entries)
        out[f"memo.{phase}.build_s"] = spans.covered(builds)

    for name, _unit in M.SPARK_COUNTERS:
        out[f"spark.{name}"] = float(counters[name])
    in_pass = sum(1 for s in tracer.spans if lo <= s.start and (s.end or s.start) <= hi)
    overhead = in_pass * spans.span_cost_s()
    out["trace.pass_s"] = hi - lo
    out["trace.uncovered_s"] = (hi - lo) - spans.covered(top_level)
    out["trace.overhead_ratio"] = (hi - lo) / max(hi - lo - overhead, 1e-9)
    out["trace.spans"] = float(len(tracer.spans))
    return out


# ---------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() at process launch")
    ap.add_argument("--cpu0", type=float, required=True, help="machine.cpu_s() at process launch")
    ap.add_argument("--input-bytes", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    tracer = None
    if args.trace:
        tracer = spans.Tracer(run_id=f"{args.workload}-seed{args.seed}-{os.getpid()}")
        spans.install(tracer)

    # program imports belong to set-up: a job pays them before its first action
    import duckdb_retail_pipeline_spark.queries  # noqa: F401
    from duckdb_retail_pipeline_spark.pipeline import run as _run  # noqa: F401
    from duckdb_retail_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.range(1).count()
    setup_wall_s, setup_cpu_s = time.monotonic() - args.t0, machine.cpu_s() - args.cpu0

    run = Run(spark=spark, data=args.data, work=args.work, seconds=args.seconds,
              seed=args.seed, tracer=tracer, clock=OpCpu(spark))
    try:
        WORKLOADS[args.workload](run)
        run.clock.add_task_cpu(run.ops)
        rss_mb = machine.tree_peak_rss_mb(os.getpid())
        counters = spark_counters(spark) if tracer else {}
        jvm = spark.sparkContext._jvm
        env = {
            "spark_version": spark.version,
            "java_version": jvm.System.getProperty("java.version"),
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        }
        t_gate = time.perf_counter()
        check_outputs(run, args.workload)
        run.details["gate_s"] = time.perf_counter() - t_gate
        run.details.update(loop_summary(run, setup_wall_s))
        result = {
            "end_to_end": end_to_end(run, setup_cpu_s, rss_mb),
            "per_layer": per_layer(run, setup_wall_s, counters, args.input_bytes) if tracer else {},
            "attempted": len(run.ops),
            "failed": [{"op": op.name, "phase": op.phase, "error": op.error} for op in run.ops if op.error],
            "ops": [
                {k: v for k, v in asdict(op).items() if k not in ("rows", "cols", "decimal_cols")}
                for op in run.ops
            ],
            "details": run.details,
            "env": env,
        }
        if tracer:
            trace_path = os.path.join(os.path.dirname(args.out), f"trace-{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(trace_path)
            result["trace_file"] = trace_path
    except Exception:  # noqa: BLE001 — the run itself broke: report and fail
        traceback.print_exc()
        spark.stop()
        return 1
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gate  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402
import run as runner  # noqa: E402
import spans  # noqa: E402
import worker  # noqa: E402


def _result(values_e2e: dict, values_layer: dict, ops: list) -> dict:
    return {
        "end_to_end": values_e2e,
        "per_layer": values_layer,
        "attempted": len(ops),
        "failed": [{"op": op.name, "phase": op.phase, "error": op.error} for op in ops if op.error],
    }


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == M.benchmark_json()


def test_every_metric_printed_with_unit():
    e2e = {n: 1.5 for n, *_ in M.END_TO_END}
    layer = {n: 2.5 for n, _, _ in M.per_layer()}
    ops = [worker.Op(name="q01", phase="cold", wall_s=1.0)]
    for trace, expected in ((False, [(n, u) for n, u, _, _ in M.END_TO_END]),
                            (True, [(n, u) for n, u, _ in M.per_layer()])):
        line = runner.metrics_line(_result(e2e, layer, ops), trace)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert [(n, m["unit"]) for n, m in line["metrics"].items()] == expected
        assert all(isinstance(m["value"], float) for m in line["metrics"].values())


def test_metric_names_follow_the_contract():
    import re

    names = [n for n, *_ in M.END_TO_END] + [n for n, _, _ in M.per_layer()]
    assert len(names) == len(set(names))
    assert len(M.per_layer()) <= 128
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    bounds = {n: b for n, _, _, b in M.END_TO_END}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_seed_determinism(tmp_path, workload):
    _, a = gen.ensure_inputs(workload, 7, cache_dir=tmp_path / "a")
    _, b = gen.ensure_inputs(workload, 7, cache_dir=tmp_path / "b")
    _, c = gen.ensure_inputs(workload, 8, cache_dir=tmp_path / "c")
    assert a["checksum"] == b["checksum"]
    assert a["tables"] == b["tables"]
    assert c["checksum"] != a["checksum"]
    assert {t: v["rows"] for t, v in c["tables"].items()} == {
        t: v["rows"] for t, v in a["tables"].items()
    }
    # cached: a second call reuses the directory and its manifest
    again = gen.ensure_inputs(workload, 7, cache_dir=tmp_path / "a")[1]
    assert again == a


def test_covered_is_union_length():
    assert spans.covered([]) == 0
    assert spans.covered([(0, 1), (2, 3)]) == 2
    assert spans.covered([(0, 2), (1, 3), (3, 4), (10, 11)]) == 5


def test_self_time_subtracts_children_union_clipped():
    t = spans.Tracer("test")
    mk = spans.Span
    t.spans = [
        mk("root", 0.0, 10.0, None, "test"),
        mk("a", 1.0, 3.0, 0, "test"),
        mk("b", 2.0, 5.0, 0, "test"),  # overlaps a: union [1, 5]
        mk("c", 8.0, 12.0, 0, "test"),  # runs past its parent: clipped to [8, 10]
        mk("a.child", 1.5, 2.5, 1, "test"),
    ]
    selfs = t.self_times()
    assert selfs == [pytest.approx(4.0), pytest.approx(1.0), pytest.approx(3.0),
                     pytest.approx(4.0), pytest.approx(1.0)]


def test_tracer_records_parents_and_phase():
    t = spans.Tracer("run-1")
    t.phase = "cold"
    with t.span("outer"):
        with t.span("inner", k=1):
            pass
    outer, inner = t.spans
    assert outer.parent is None and inner.parent == 0
    assert inner.attrs == {"phase": "cold", "k": 1}
    assert inner.run_id == "run-1" and outer.end >= inner.end


class _FailingSpec:
    oracle = "SELECT 1 AS x"

    @staticmethod
    def fn(spark, data):
        raise RuntimeError("injected failure")


class _FakeClock:
    def tag(self, group):
        pass

    def client_s(self):
        return 0.0


def test_injected_failure_counts_and_is_not_dropped():
    run = worker.Run(spark=None, data="", work="", seconds=0, seed=0, tracer=None,
                     clock=_FakeClock())
    op = worker.run_query(run, "q99", _FailingSpec, "cold")
    assert op.error and "injected failure" in op.error
    good = worker.Op(name="q01", phase="cold", wall_s=2.0, cpu_s=3.0)
    run.ops = [good, op]
    run.pass_cpu_s = sum(o.cpu_s for o in run.ops if o.phase == "cold")
    e2e = worker.end_to_end(run, setup_cpu_s=1.0, rss_mb=1.0)
    assert e2e["success_rate"] == pytest.approx(0.5)
    assert e2e["pass_cpu_s"] >= good.cpu_s + op.cpu_s - 1e-12
    line = runner.metrics_line(_result(e2e, {}, run.ops), trace=False)
    assert line["attempted"] == 2 and line["failed"] == 1 and line["correct"] is False


def test_wrong_result_is_a_failure():
    assert gate.compare([(1,)], ["x"], [(1,)], ["x"]) is None
    assert gate.compare([(1,)], ["x"], [(2,)], ["x"])
    assert gate.compare([(1,)], ["x"], [(1,), (1,)], ["x"])
    assert gate.compare([(1,)], ["x"], [(1,)], ["y"])
    assert gate.compare([(1,)], ["x"], [(1,)], ["x"], decimal_cols=["x"])
    # order-insensitive over rows and columns
    assert gate.compare([(1, "a"), (2, "b")], ["n", "s"], [("b", 2), ("a", 1)], ["s", "n"]) is None


def test_without_program_exits_nonzero_and_prints_no_result(tmp_path):
    bench = tmp_path / "perfbench"
    shutil.copytree(BENCH, bench, ignore=shutil.ignore_patterns(".data", ".out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_layer_gate_compares_in_duckdb(tmp_path):
    import duckdb

    data = tmp_path / "data"
    data.mkdir()
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT range AS k, range * 0.5 AS v FROM range(10)) "
        f"TO '{data}/orders.parquet' (FORMAT parquet)"
    )
    layer = tmp_path / "wh" / "dim_x"
    layer.mkdir(parents=True)
    part = layer / "part-0.parquet"

    def write(sql: str) -> None:
        con.execute(f"COPY ({sql}) TO '{part}' (FORMAT parquet)")

    oracle = gate.Oracle(str(data))
    item = ("dim_x", str(layer), "SELECT k, v FROM orders")
    write(f"SELECT v, k FROM '{data}/orders.parquet' ORDER BY k DESC")
    assert gate.check_layers(oracle, [item]) == ["layer not written"]
    (layer / "_SUCCESS").touch()
    assert gate.check_layers(oracle, [item]) == [None]
    write(f"SELECT k, CASE WHEN k = 3 THEN 9.0 ELSE v END AS v FROM '{data}/orders.parquet'")
    assert gate.check_layers(oracle, [item])[0]
    write(f"SELECT k, v FROM '{data}/orders.parquet' WHERE k > 0")
    assert gate.check_layers(oracle, [item])[0]
    write(f"SELECT k, v, 1 AS extra FROM '{data}/orders.parquet'")
    assert gate.check_layers(oracle, [item])[0]
    oracle.close()


def test_memo_spans_record_hits_and_builds(tmp_path):
    import types

    tracer = spans.Tracer("t")
    spans.install(tracer)
    from duckdb_retail_pipeline_spark import memo

    spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId="app-test"))
    tracer.phase = "cold"
    assert memo.dataset_memo(spark, str(tmp_path), "tag", lambda: 41) == 41
    assert memo.dataset_memo(spark, str(tmp_path), "tag", lambda: 42) == 41
    assert [s.name for s in tracer.spans] == ["memo.dataset_memo", "memo.build", "memo.dataset_memo"]
    assert [s.attrs.get("hit") for s in tracer.spans if "memo" in s.attrs] == [False, True]
    assert all(s.attrs["phase"] == "cold" for s in tracer.spans)

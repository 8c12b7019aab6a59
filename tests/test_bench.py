"""Driver-contract pin for bench.py: the round driver runs it as a
CLI and records the ONE JSON line it prints — a silent format
regression (extra stdout, missing field, non-JSON tail) costs a
whole round's BENCH artifact, so the contract is pinned here the way
the driver consumes it: subprocess, last stdout line, parsed."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_bench_cli_emits_driver_contract_json():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
        # a 2g heap for this process and the cold probe it spawns (the
        # probe inherits this environment), so neither can over-commit
        # the box beside the suite's own JVM
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        capture_output=True,
        text=True,
        timeout=540,
        env=env,
        cwd=repo,
    )
    assert r.returncode == 0, r.stderr[-800:]
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    assert lines, "bench printed nothing to stdout"
    out = json.loads(lines[-1])

    # the driver-contract fields
    assert out["metric"] == "headline_queries_total_sec"
    assert out["unit"] == "sec"
    assert isinstance(out["value"], float) and out["value"] > 0
    assert out["sf"] == 0.001
    assert out["queries"] and all(v >= 0 for v in out["queries"].values())
    assert "failed" not in out and "cold_failed" not in out

    # r11 dispersion fields (r10 verdict #3): [min, median, max] per
    # query, ordered, median mirrored in queries; sum-of-mins total
    spread = out["queries_spread"]
    assert set(spread) == set(out["queries"])
    for name, (mn, md, mx) in spread.items():
        assert mn <= md <= mx, name
        assert md == out["queries"][name], name
    assert out["headline_queries_total_min_sec"] == round(
        sum(v[0] for v in spread.values()), 4
    )

    # cold pass recorded for every headline query
    assert set(out["queries_cold"]) == set(out["queries"])
    assert out["headline_queries_cold_total_sec"] > 0

    # r14 replicated cold (r13 verdict #4): a fresh-session subprocess
    # probe adds a second cold sample per query; sample 1 must be the
    # unchanged in-process queries_cold (round-over-round comparable)
    assert out["cold_samples"] == 2
    samples = out["queries_cold_samples"]
    assert set(samples) == set(out["queries_cold"])
    for name, vals in samples.items():
        assert len(vals) == 2 and all(v > 0 for v in vals), name
        assert vals[0] == out["queries_cold"][name], name
    totals = out["headline_queries_cold_total_samples"]
    assert len(totals) == 2
    assert totals[0] == out["headline_queries_cold_total_sec"]
    assert out["headline_queries_cold_min_total_sec"] == min(totals)

    # r13 contention witnesses (r12 verdict #2): guest loadavg
    # before/after, KVM steal fraction over the run, and the fixed
    # single-thread calibration pair — the fields that make a
    # contended driver run identifiable from the artifact alone
    assert len(out["loadavg_before"]) == 3
    assert len(out["loadavg_after"]) == 3
    assert out["ncpus"] >= 1
    assert out["steal_pct"] is None or out["steal_pct"] >= 0
    cb, ca = out["calibrate_s"]
    assert cb > 0 and ca > 0


def test_cold_probe_payload_is_found_past_stray_json_lines():
    """The probe's payload is the stdout line carrying ``cold_probe``;
    a stray JSON-looking log line printed before it must not be taken
    for the payload (which would drop the sample)."""
    from bench import _parse_cold_probe

    payload = {"q01_pricing_summary": 1.25, "x66_basket_pairs": 2.5}
    stdout = "\n".join(
        [
            "warming up",
            '{"level": "WARN", "msg": "stray log line"}',
            "{not json at all",
            json.dumps({"cold_probe": payload}),
            '{"cold_probe": {"late": 9.0}}',
        ]
    )
    assert _parse_cold_probe(stdout) == payload
    assert _parse_cold_probe('{"level": "WARN"}\nno payload here\n') is None


def test_fold_cold_probes_leaves_out_incomplete_probes_and_names_the_gap():
    """A probe missing a headline query would sum to a shrunken total
    that reads as a speed-up: it stays out of the per-sample totals,
    its per-query values still land, and the names it lacked are
    recorded under ``cold_probe_missing``."""
    from bench import _fold_cold_probes

    cold = {"a": 1.0, "b": 2.0, "c": 3.0}
    out = {"headline_queries_cold_total_sec": 6.0, "cold_samples": 1}
    extras = [{"a": 1.5, "b": 2.5, "c": 3.5}, {"a": 1.25}]
    _fold_cold_probes(out, cold, ("a", "b", "c"), extras)
    assert out["queries_cold_samples"] == {
        "a": [1.0, 1.5, 1.25], "b": [2.0, 2.5], "c": [3.0, 3.5]
    }
    assert out["headline_queries_cold_total_samples"] == [6.0, 7.5]
    assert out["cold_probe_missing"] == [["b", "c"]]
    assert out["cold_samples"] == 3
    assert out["headline_queries_cold_total_sec"] == 6.0
    assert out["headline_queries_cold_min_total_sec"] == 6.0

    complete = {"headline_queries_cold_total_sec": 6.0}
    _fold_cold_probes(complete, cold, ("a", "b", "c"), extras[:1])
    assert complete["headline_queries_cold_total_samples"] == [6.0, 7.5]
    assert complete["cold_probe_missing"] == []
    assert complete["cold_samples"] == 2
    assert complete["headline_queries_cold_min_total_sec"] == 6.0

    faster = {"headline_queries_cold_total_sec": 6.0}
    _fold_cold_probes(faster, cold, ("a", "b", "c"), [{"a": 0.5, "b": 1.0, "c": 1.5}])
    assert faster["headline_queries_cold_total_samples"] == [6.0, 3.0]
    assert faster["headline_queries_cold_min_total_sec"] == 3.0

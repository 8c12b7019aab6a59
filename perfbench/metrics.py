"""The benchmark's metric catalogue: one definition used by the worker,
the result printer, the self-tests and BENCHMARK.json."""

from __future__ import annotations

WORKLOADS = {
    "etl_build": "write-heavy layer-by-layer warehouse build (run_pipeline); pipeline and the parquet writer do the work, memo none",
    "analyst_session": "read-heavy cold pass then warm closed loop over the retail query mix; exercises build_layers, catalog and the memo hit path",
}

ANALYST_MIX = ("pl03", "pl06", "pl09", "pl10", "q01", "q02", "q15", "q21", "a01", "x40", "x68")

# name, unit, better, bound (share of the parent's median it may worsen by).
# Times are CPU seconds of the whole machine (machine.cpu_s), which
# excludes time the hypervisor stole; wall times and the op tail
# percentile are in the details line (see README.md for why).
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("pass_cpu_s", "s", "lower", 0.25),
    ("op_cpu_p50_ms", "ms", "lower", 0.25),
    ("op_cpu_p90_ms", "ms", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("success_rate", "ratio", "higher", 0.01),
)

LAYER_ORDER = (
    "raw_retail_data", "raw_fx_rates", "raw_uk_holidays", "dim_calendar",
    "dim_product", "dim_customer", "fct_sales", "daily_fx_rates",
    "fct_sales_eur", "agg_country_day", "v_monthly_sales_summary", "validation",
)
PLANNED_LAYERS = ("staging",) + LAYER_ORDER[3:]
MEMO_PHASES = ("etl", "cold", "warm")
SPARK_COUNTERS = (
    ("jobs", "count"), ("tasks", "count"), ("task_run_s", "s"), ("gc_s", "s"),
    ("input_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("cached_mem_bytes", "bytes"),
    ("cached_disk_bytes", "bytes"),
)
SELF_LAYERS = ("pipeline_plan", "parquet_write", "memo", "memo_build", "query_build", "query_exec")


def per_layer() -> list[tuple[str, str, str]]:
    """(name, unit, better) for every per-layer metric, in print order."""
    out = [("session.start_s", "s", "lower")]
    out += [(f"pipeline.{layer}.plan_s", "s", "lower") for layer in PLANNED_LAYERS]
    for layer in LAYER_ORDER:
        out += [(f"pipeline.{layer}.write_s", "s", "lower"), (f"pipeline.{layer}.bytes", "bytes", "lower")]
    out.append(("pipeline.write_amp", "ratio", "lower"))
    for q in ANALYST_MIX:
        out += [(f"queries.{q}.{part}_s", "s", "lower") for part in ("build", "exec", "warm")]
    for phase in MEMO_PHASES:
        out += [
            (f"memo.{phase}.calls", "count", "lower"),
            (f"memo.{phase}.hit_ratio", "ratio", "higher"),
            (f"memo.{phase}.self_s", "s", "lower"),
            (f"memo.{phase}.build_s", "s", "lower"),
        ]
    out += [(f"spark.{name}", unit, "lower") for name, unit in SPARK_COUNTERS]
    out += [(f"self.{layer}_s", "s", "lower") for layer in SELF_LAYERS]
    out += [
        ("trace.pass_s", "s", "lower"),
        ("trace.uncovered_s", "s", "lower"),
        ("trace.overhead_ratio", "ratio", "lower"),
        ("trace.spans", "count", "lower"),
    ]
    return out


def benchmark_json() -> dict:
    """The content of BENCHMARK.json."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 12,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in per_layer()],
    }

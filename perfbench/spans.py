"""Span recorder and the wrappers the traced run installs.

Spans are kept in memory (name, start, end, parent, run id, attributes)
and written out once, at the end of the run. A span's self time is its
duration minus the part of its interval that its child spans cover.

``install`` wraps calls into each layer's public functions from the
outside: nothing under ``duckdb_retail_pipeline_spark/`` is edited. It
must run before ``duckdb_retail_pipeline_spark.queries`` is imported,
because ``plan_memo`` is applied (and binds ``dataset_memo``) when the
query modules are imported, and the operator modules bind
``rotating_persist`` and ``memoized_count`` by name at import.
"""

from __future__ import annotations

import functools
import importlib.util
import json
import os
import sys
import threading
import time
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any

PKG = "duckdb_retail_pipeline_spark"

# run_pipeline's build functions, keyed by the layer each one produces, under
# the names pipeline/run.py imports them by
BUILD_FUNCTIONS = {
    "dim_calendar": "build_dim_calendar",
    "dim_product": "build_dim_product",
    "dim_customer": "build_dim_customer",
    "fct_sales": "build_fct_sales",
    "daily_fx_rates": "build_daily_fx_rates",
    "fct_sales_eur": "build_fct_sales_eur",
    "agg_country_day": "build_agg_country_day",
    "v_monthly_sales_summary": "build_monthly_sales_summary",
    "validation": "validation_checks",
}


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder. ``phase`` tags every span opened while it
    is set (etl, cold, warm). Each thread keeps its own parent stack."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self.phase: str | None = None
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs: Any):
        stack = self._stack()
        s = Span(
            name=name,
            start=time.perf_counter(),
            end=None,
            parent=stack[-1] if stack else None,
            run_id=self.run_id,
            attrs={"phase": self.phase, **attrs},
        )
        self.spans.append(s)
        stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        return kids

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals,
        each clipped to the span's own interval."""
        kids = self.children()
        out = []
        for i, s in enumerate(self.spans):
            end = s.end if s.end is not None else s.start
            inner = (
                (max(self.spans[c].start, s.start), min(self.spans[c].end or s.start, end))
                for c in kids.get(i, ())
            )
            out.append(s.duration - covered((lo, hi) for lo, hi in inner if hi > lo))
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**asdict(s), "self": st}) + "\n")


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of opening and closing one span, used to estimate
    the tracing overhead of a run from its span count."""
    t = Tracer("calibration")
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


def _traced(tracer: Tracer, name: str, fn: Callable, **attrs: Any) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name, **attrs):
            return fn(*args, **kwargs)

    return wrapper


def _load_query_base():
    """Load ``queries/base.py`` without running ``queries/__init__`` (which
    imports every query module, applying ``plan_memo`` as it goes)."""
    name = f"{PKG}.queries.base"
    if name in sys.modules:
        return sys.modules[name]
    if f"{PKG}.queries" in sys.modules:
        raise RuntimeError("spans.install must run before the query registry is imported")
    pkg_spec = importlib.util.find_spec(PKG)
    path = os.path.join(os.path.dirname(pkg_spec.origin), "queries", "base.py")
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    sys.modules[name] = module
    spec.loader.exec_module(module)
    return module


def install(tracer: Tracer) -> None:
    """Wrap the pipeline build functions, the parquet writer and the memo entry
    points so that every call records a span on ``tracer``."""
    import importlib

    memo = importlib.import_module(f"{PKG}.memo")
    catalog = importlib.import_module(f"{PKG}.catalog")

    @contextmanager
    def memo_span(kind: str):
        """A memo entry-point span. ``hit`` is true unless a build ran
        below it; wrappers that know better overwrite it."""
        first = len(tracer.spans)
        with tracer.span(f"memo.{kind}", memo=kind) as s:
            yield s
        s.attrs.setdefault(
            "hit", not any(x.name == "memo.build" for x in tracer.spans[first + 1:])
        )

    def traced_build(build):
        def run_build():
            with tracer.span("memo.build"):
                return build()

        return run_build

    orig_dataset_memo = memo.dataset_memo

    @functools.wraps(orig_dataset_memo)
    def dataset_memo(spark, sf_dir, tag, build):
        with memo_span("dataset_memo"):
            return orig_dataset_memo(spark, sf_dir, tag, traced_build(build))

    orig_rotating = memo.rotating_persist

    @functools.wraps(orig_rotating)
    def rotating_persist(df, slot):
        occupant = slot[0][0] if slot else None
        with memo_span("rotating_persist") as s:
            out = orig_rotating(df, slot)
            s.attrs["hit"] = occupant is not None and out is occupant
            return out

    orig_count = memo.memoized_count

    @functools.wraps(orig_count)
    def memoized_count(df):
        before = dict(memo._COUNT_MEMO)
        with memo_span("memoized_count") as s:
            n = orig_count(df)
            after = memo._COUNT_MEMO
            s.attrs["hit"] = len(after) == len(before) and all(
                after.get(k) is v for k, v in before.items()
            )
            if not s.attrs["hit"]:
                s.attrs["build_s"] = time.perf_counter() - s.start
            return n

    memo.dataset_memo = dataset_memo
    memo.rotating_persist = rotating_persist
    memo.memoized_count = memoized_count

    orig_table_memo = catalog._table_memo

    @functools.wraps(orig_table_memo)
    def table_memo(spark, sf_dir, tag, build):
        with memo_span("table_memo"):
            return orig_table_memo(spark, sf_dir, tag, build)

    catalog._table_memo = table_memo

    base = _load_query_base()
    orig_plan_memo = base.plan_memo

    @functools.wraps(orig_plan_memo)
    def plan_memo(tag):
        deco = orig_plan_memo(tag)

        def traced_deco(fn):
            memoized = deco(fn)

            @functools.wraps(memoized)
            def wrapper(spark, sf_dir):
                with memo_span("plan_memo"):
                    return memoized(spark, sf_dir)

            # the registry reads the query module's nonce through
            # __wrapped__, so point it at the query function itself
            wrapper.__wrapped__ = fn
            return wrapper

        return traced_deco

    base.plan_memo = plan_memo

    staging = importlib.import_module(f"{PKG}.pipeline.staging")
    run = importlib.import_module(f"{PKG}.pipeline.run")
    staging.load_staging = _traced(tracer, "pipeline.staging.plan", staging.load_staging)
    for layer, fn_name in BUILD_FUNCTIONS.items():
        setattr(run, fn_name, _traced(tracer, f"pipeline.{layer}.plan", getattr(run, fn_name)))

    from pyspark.sql.readwriter import DataFrameWriter

    orig_parquet = DataFrameWriter.parquet

    @functools.wraps(orig_parquet)
    def parquet(self, path, *args, **kwargs):
        layer = os.path.basename(os.path.normpath(str(path)))
        with tracer.span(f"pipeline.{layer}.write", layer=layer) as s:
            out = orig_parquet(self, path, *args, **kwargs)
        s.attrs["bytes"] = _dir_bytes(str(path))
        return out

    DataFrameWriter.parquet = parquet

"""Capture `.explain("formatted")` artifacts for headline queries.

Writes plans/<round>/<query>_<suffix>.txt for every headline query
(or an explicit list) — the per-round optimization evidence the
judge checks plan claims against. Plans are built fresh (unwrapped
builders where plan_memo applies, so the STATIC planned shape is
captured rather than a previously-executed adaptive plan). A
pipeline-layer query (pl01–pl11) is captured as the layer's
``layer_plan``: the registered frame of a materialized layer is one
checkpointed leaf (``Scan ExistingRDD``), while the layer's own joins
and exchanges are what a plan claim is about.

Each capture gets a normalised twin, <query>_<suffix>.norm.txt, with
what differs between two runs of the same commit replaced: expression
ids (``#<id>``), ``plan_id=``, RDD numbers and ``/tmp/...`` paths.
Compare twins, not raw captures.

Usage:
    python tools/capture_plans.py ROUND_DIR SUFFIX [QUERY ...]
e.g.
    python tools/capture_plans.py plans/r14 before
    python tools/capture_plans.py plans/r14 after x66_basket_pairs
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_VOLATILE = (
    (re.compile(r"#\d+"), "#<id>"),
    (re.compile(r"plan_id=\d+"), "plan_id=<id>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[<n>]"),
    (re.compile(r"/tmp/[^\s,\])]*"), "/tmp/<path>"),
)


def normalise(plan: str) -> str:
    """``plan`` with its run-to-run volatile parts replaced."""
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    round_dir, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])

    from duckdb_retail_pipeline_spark.pipeline.run import layer_plan
    from duckdb_retail_pipeline_spark.plans.explain import formatted_plan
    from duckdb_retail_pipeline_spark.queries import REGISTRY
    from duckdb_retail_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(round_dir, exist_ok=True)
    for name, spec in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        if not only and not spec.headline:
            continue
        fn = getattr(spec.fn, "__wrapped__", spec.fn)
        try:
            layer = getattr(fn, "layer", None)
            df = layer_plan(spark, sf_dir, layer) if layer else fn(spark, sf_dir)
            plan = formatted_plan(df)
        except Exception as exc:  # noqa: BLE001 — capture must not die mid-list
            plan = f"PLAN CAPTURE FAILED: {exc!r}\n"
        path = os.path.join(round_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        with open(os.path.join(round_dir, f"{name}_{suffix}.norm.txt"), "w") as f:
            f.write(normalise(plan))
        print(f"{path}: {plan.count('Exchange')} Exchange lines")
    spark.stop()


if __name__ == "__main__":
    main()

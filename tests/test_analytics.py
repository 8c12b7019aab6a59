from __future__ import annotations

import re

from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.operators import scale as SC
from duckdb_retail_pipeline_spark.queries import REGISTRY
from duckdb_retail_pipeline_spark.queries.analytics import (
    _X43_MIN_ERRORS,
    _X47_EMAIL_RE,
    _X47_PHONE_RE,
)
from duckdb_retail_pipeline_spark.queries.base import tbl


def test_range_join_binned_equals_inequality_join(spark, sf_dir):
    """The binned equi-join must produce exactly the rows of the
    naive inequality join it replaces (the provably-equal claim in
    the x43 doc), computed here Spark-side as a second witness next
    to the DuckDB oracle."""
    ev = tbl(spark, sf_dir, "events")
    iv = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    win = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _X43_MIN_ERRORS)
        .select("w")
    )
    w_end = F.col("w") + F.expr("INTERVAL 1 HOUR")
    naive = (
        iv.crossJoin(win)
        .filter((F.col("s") < w_end) & (F.col("e") >= F.col("w")))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.sum(
                F.unix_micros(F.least(F.col("e"), w_end))
                - F.unix_micros(F.greatest(F.col("s"), F.col("w")))
            )
            .cast("bigint")
            .alias("total_overlap_us"),
        )
    )
    got = REGISTRY["x43_range_join_binned"].fn(spark, sf_dir).collect()
    want = naive.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_bm25_ranking_sanity(spark, sf_dir):
    rows = REGISTRY["x44_bm25_search"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    # every returned doc matched at least one query term
    assert all(r["tf_join"] + r["tf_vector"] + r["tf_slow"] > 0 for r in rows)


def test_funnel_counts_monotone(spark, sf_dir):
    row = REGISTRY["x45_event_funnel"].fn(spark, sf_dir).first()
    assert row["n_users"] >= row["n_view"] >= row["n_click_1h"] >= row["n_purchase_1h"]
    assert row["n_view"] > 0


def test_cohort_retention_bounds(spark, sf_dir):
    for r in REGISTRY["x46_cohort_retention"].fn(spark, sf_dir).collect():
        assert 0 <= r["n_day1"] <= r["n_users"]
        assert 0 <= r["n_day7"] <= r["n_users"]


def test_pii_redaction_leaves_no_matches(spark, sf_dir):
    """Property: after redaction, neither pattern matches anything —
    re-checked here in Python's regex engine as a third
    implementation (Spark Java regex and DuckDB RE2 are the other
    two)."""
    docs = tbl(spark, sf_dir, "documents").limit(50)
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example or call 555-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("t"),
    )
    red = aug.withColumn(
        "redacted",
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _X47_EMAIL_RE, "<EMAIL>"),
            _X47_PHONE_RE,
            "<PHONE>",
        ),
    ).collect()
    for r in red:
        assert re.search(_X47_EMAIL_RE, r["redacted"]) is None
        assert re.search(_X47_PHONE_RE, r["redacted"]) is None
        assert "<EMAIL>" in r["redacted"] and "<PHONE>" in r["redacted"]


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Row-level: the salt must route, never change the result."""
    li = tbl(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), "l_extendedprice"
    )
    pt = tbl(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    salted = SC.salted_join(li, pt, on="partkey").collect()
    plain = li.join(pt, "partkey").collect()
    assert sorted(map(tuple, salted)) == sorted(map(tuple, plain))


def test_importance_sampling_deterministic(spark, sf_dir):
    """The kept set is hash-derived, not RNG: two runs agree."""
    a = REGISTRY["x50_importance_sampling"].fn(spark, sf_dir).collect()
    b = REGISTRY["x50_importance_sampling"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a:
        assert 0 <= r["n_kept"] <= r["n_docs"]


def test_incremental_merge_equals_full_agg(spark, sf_dir):
    """The base+delta merge must be bit-identical to the single-pass
    aggregate, Spark-side (the DuckDB oracle is the other witness)."""
    ev = tbl(spark, sf_dir, "events")
    full = (
        ev.select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.sum("cents") / F.lit(100.0)).alias("total_value"),
        )
        .collect()
    )
    merged = REGISTRY["x57_incremental_agg"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, merged)) == sorted(map(tuple, full))


def test_attribution_partitions_purchases(spark, sf_dir):
    rows = REGISTRY["x55_last_touch_attribution"].fn(spark, sf_dir).collect()
    channels = {r["channel"] for r in rows}
    assert channels <= {"click", "view", "none"}
    n_purchases = (
        tbl(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r["n_purchases"] for r in rows) == n_purchases


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Bounded input: the append-mode stream-stream join must emit
    exactly the batch join's row set."""
    ev = tbl(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        "value",
    )
    batch = (
        c.join(
            p,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") > F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("purchase_cents"),
        )
        .collect()
    )
    streamed = REGISTRY["x58_stream_stream_join"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    assert len(streamed) > 0


def test_stream_stream_left_outer_deterministic_and_gated(spark, sf_dir):
    """x85's closed-click frame must be run-to-run deterministic
    (fresh checkpoint each run — outer-null emission depends on
    watermark progression, which the cutoff makes reproducible) and
    must contain NULL rows for closed unmatched clicks while never
    leaking a click inside the final watermark gap."""
    a = REGISTRY["x85_stream_stream_left_outer"].fn(spark, sf_dir).collect()
    b = REGISTRY["x85_stream_stream_left_outer"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    nulls = [r for r in a if r["purchase_id"] is None]
    assert nulls, "closed unmatched clicks must emit exactly one NULL row"
    # NULL rows carry no purchase payload
    assert all(r["purchase_cents"] is None for r in nulls)
    # every click appears once unmatched OR >=1 times matched, never both
    matched = {r["click_id"] for r in a if r["purchase_id"] is not None}
    assert all(r["click_id"] not in matched for r in nulls)


def test_salted_join_spreads_hot_key(spark):
    """The salt must spread a dominating key over multiple sub-keys
    (the bounded-partition property the docstring promises): with one
    key carrying 8000 of 8100 rows and salt=8, every (key, salt)
    partial must hold well under the unsalted hot-key count."""
    left = spark.range(8000).select(
        F.lit(1).alias("k"), F.col("id").alias("payload")
    ).unionByName(
        spark.range(100).select(
            (F.col("id") % 10 + 2).alias("k"), F.col("id").alias("payload")
        )
    )
    salted = left.withColumn("__salt", (F.rand(seed=42) * 8).cast("int"))
    sizes = (
        salted.groupBy("k", "__salt").count().filter(F.col("k") == 1).collect()
    )
    assert len(sizes) == 8  # the hot key reached every sub-key
    assert max(r["count"] for r in sizes) < 8000 * 0.25  # no sub-key dominates


def test_streaming_upsert_multi_batch_equals_batch_agg(spark, sf_dir, tmp_path):
    """Three source files + maxFilesPerTrigger=1 force three real
    micro-batches through the foreachBatch MERGE; the running table
    must equal the single-pass batch aggregate bit-for-bit."""
    import os

    import pyarrow.parquet as pq

    from duckdb_retail_pipeline_spark.streaming import events as SE

    src = tmp_path / "in"
    src.mkdir()
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    n = t.num_rows
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
        f = src / f"part{i}.parquet"
        pq.write_table(t.slice(lo, hi - lo), str(f))
        os.utime(str(f), (1_000_000 * (i + 1),) * 2)

    got = SE.stream_upsert_daily_totals(
        spark, str(src), str(tmp_path / "dest"),
        max_files_per_trigger=1, glob="*.parquet",
    ).collect()
    want = (
        tbl(spark, sf_dir, "events")
        .select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.sum("cents") / F.lit(100.0)).alias("total_value"),
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_bpe_ish_tokenizer_splits(spark):
    """The BPE-style pre-tokenizer must split the way the GPT-2
    pattern family does: contraction suffixes split off, letter and
    digit runs separate, punctuation separates, leading spaces
    attach to the following token."""
    from duckdb_retail_pipeline_spark.functions.text import bpe_ish_tokens

    df = spark.createDataFrame(
        [("it's over 9000, really!",), ("abc123 x",)], ["s"]
    ).select(bpe_ish_tokens("s").alias("t"))
    rows = [r["t"] for r in df.collect()]
    assert rows[0] == ["it", "'s", " over", " 9000", ",", " really", "!"]
    assert rows[1] == ["abc", "123", " x"]


def test_seasonal_anomaly_flags_are_minority(spark, sf_dir):
    rows = REGISTRY["x62_seasonal_anomaly"].fn(spark, sf_dir).collect()
    flagged = sum(1 for r in rows if r["is_anomaly"])
    assert 0 <= flagged < len(rows) / 2  # 50%-deviation days are rare


def test_cross_source_dups_all_mirrored(spark, sf_dir):
    for r in REGISTRY["x63_cross_source_dups"].fn(spark, sf_dir).collect():
        assert r["n_sources"] == 2 and r["n_docs"] == 2
        assert r["last_doc"] == r["first_doc"] + 1000000


def test_vocab_oov_bounds(spark, sf_dir):
    for r in REGISTRY["x64_vocab_oov"].fn(spark, sf_dir).collect():
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert 0.0 <= r["oov_rate"] <= 1.0


def test_streaming_upsert_resume_from_checkpoint(spark, sf_dir, tmp_path):
    """Exactly-once across restarts: run the upsert sink over one
    source file, then add two more and re-run with the SAME
    checkpoint — committed offsets must not reprocess file one, the
    per-batch partition layout must absorb the new batches, and a
    third run with no new data must change nothing."""
    import os

    import pyarrow.parquet as pq

    from duckdb_retail_pipeline_spark.streaming import events as SE

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    dest = str(tmp_path / "dest")
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    n = t.num_rows
    slices = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]

    def write(i):
        f = src / f"part{i}.parquet"
        pq.write_table(t.slice(slices[i][0], slices[i][1] - slices[i][0]), str(f))
        os.utime(str(f), (1_000_000 * (i + 1),) * 2)

    def run():
        return sorted(
            map(
                tuple,
                SE.stream_upsert_daily_totals(
                    spark, str(src), dest,
                    max_files_per_trigger=1, glob="*.parquet", checkpoint=ckpt,
                ).collect(),
            )
        )

    write(0)
    first = run()
    write(1)
    write(2)
    second = run()
    third = run()

    want = sorted(
        map(
            tuple,
            tbl(spark, sf_dir, "events")
            .select(
                F.to_date("ts").alias("day"),
                "event_type",
                F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
            )
            .groupBy("day", "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                (F.sum("cents") / F.lit(100.0)).alias("total_value"),
            )
            .collect(),
        )
    )
    assert second == want
    assert third == second  # no new data → nothing reprocessed
    assert first != second  # the first run really was partial


def test_token_budget_sums_exactly(spark, sf_dir):
    """Largest-remainder apportionment: allocations are integers
    summing EXACTLY to the budget, each within 1 of its real-valued
    proportional share."""
    from duckdb_retail_pipeline_spark.queries.analytics import _X74_BUDGET

    rows = REGISTRY["x74_token_budget"].fn(spark, sf_dir).collect()
    assert sum(r["final_alloc"] for r in rows) == _X74_BUDGET
    total = sum(r["n_tokens"] for r in rows)
    for r in rows:
        exact = _X74_BUDGET * r["n_tokens"] / total
        assert abs(r["final_alloc"] - exact) < 1.0
        assert r["final_alloc"] in (r["quota"], r["quota"] + 1)


def test_pareto_cumulative_monotone(spark, sf_dir):
    rows = sorted(
        REGISTRY["x79_pareto_analysis"].fn(spark, sf_dir).collect(),
        key=lambda r: r["rnk"],
    )
    shares = [r["cum_share"] for r in rows]
    assert shares == sorted(shares)  # cumulative share non-decreasing
    assert abs(shares[-1] - 1.0) < 1e-3  # last row ≈ full total (floor at 4dp)
    # reached_80pct flips once and stays true
    flags = [r["reached_80pct"] for r in rows]
    assert flags[-1] is True
    first_true = flags.index(True)
    assert all(flags[first_true:])


def test_transition_matrix_rows_normalize(spark, sf_dir):
    by_from: dict[str, float] = {}
    counts: dict[str, int] = {}
    for r in REGISTRY["x80_event_transitions"].fn(spark, sf_dir).collect():
        by_from[r["from_type"]] = by_from.get(r["from_type"], 0.0) + r["p"]
        counts[r["from_type"]] = counts.get(r["from_type"], 0) + 1
    for ft, s in by_from.items():
        # floor-rounded probabilities under-sum by < n_cells quanta
        assert 1.0 - counts[ft] * 1e-4 <= s <= 1.0 + 1e-9, (ft, s)


def test_profiling_row_per_column(spark, sf_dir):
    rows = {r["col_name"]: r for r in REGISTRY["x49_data_profiling"].fn(spark, sf_dir).collect()}
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderstatus",
    }
    n = rows["o_orderkey"]["n_rows"]
    assert all(r["n_rows"] == n for r in rows.values())
    # order keys are unique and non-null
    assert rows["o_orderkey"]["n_distinct"] == n
    assert rows["o_orderkey"]["n_null"] == 0
    assert rows["o_orderkey"]["min_i"] <= rows["o_orderkey"]["max_i"]


def test_streaming_upsert_rejects_glob_metachar_dest(spark, sf_dir, tmp_path):
    """Hadoop glob-interprets load paths, so a metacharacter
    dest_path cannot be read back unambiguously after the write —
    the sink must fail fast instead."""
    import pytest

    from duckdb_retail_pipeline_spark.streaming import events as SE

    with pytest.raises(ValueError, match="glob metacharacters"):
        SE.stream_upsert_daily_totals(
            spark, sf_dir, str(tmp_path / "out[1]")
        )


def test_phrase_search_memo_rebuilds_on_dataset_regeneration(spark, sf_dir, tmp_path):
    """End-to-end invalidation through a REGISTERED memoized query:
    x90 serves from a dataset-memoized persisted index; regenerating
    the dataset's documents parquet IN-SESSION under the same path
    must rebuild the index and serve the new corpus — never the stale
    cache (the dataset_memo mtime-signature contract, exercised here
    on the real query rather than a synthetic memo probe)."""
    import shutil
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ds"
    d.mkdir()
    for t in ("documents",):
        shutil.copy(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))

    first = REGISTRY["x90_phrase_search"].fn(spark, str(d)).count()
    assert first > 0

    time.sleep(0.01)  # distinct mtime_ns on coarse filesystems
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], type=pa.int64()),
                "text": pa.array(["slow join slow join", "nothing here"]),
            }
        ),
        str(d / "documents.parquet"),
    )
    rows = REGISTRY["x90_phrase_search"].fn(spark, str(d)).collect()
    got = {r["doc_id"]: r["n_occurrences"] for r in rows}
    assert got == {1: 2}  # the regenerated corpus, not the stale index


def test_x66_basket_cap_optin_semantics(spark, sf_dir):
    """r10 verdict #4 adjudication: the opt-in deterministic basket
    cap. (a) a cap above the corpus max basket (17) leaves the
    oracle-gated exact output IDENTICAL; (b) cap=1 leaves no pairs
    at all (one part per basket); (c) a binding cap is deterministic
    across runs (xxhash64 rank, not rand()); default stays None —
    exact Apriori counts are the registered semantics."""
    from duckdb_retail_pipeline_spark.queries import analytics as A

    assert A._X66_MAX_BASKET is None  # registered semantics: exact

    def run():
        return sorted(
            tuple(r) for r in A.x66_basket_pairs(spark, sf_dir).collect()
        )

    baseline = run()
    assert baseline
    try:
        A._X66_MAX_BASKET = 64
        assert run() == baseline  # cap above max basket: no-op

        A._X66_MAX_BASKET = 1
        assert run() == []  # one part per basket -> no pairs

        A._X66_MAX_BASKET = 2
        capped1, capped2 = run(), run()
        assert capped1 == capped2  # deterministic under a binding cap
        # capped supports can only shrink: every surviving pair's
        # support is <= its uncapped support (downward-only bias)
        base_support = {(r[0], r[1]): r[2] for r in baseline}
        assert all(
            (pa, pb) not in base_support or s <= base_support[(pa, pb)]
            for pa, pb, s, *_ in capped1
        )
    finally:
        A._X66_MAX_BASKET = None


def test_x66_salted_pair_enumeration_is_exact_and_dispatches(
    spark, sf_dir, tmp_path
):
    """r14 skew optimization (guide §2.5/§3.1, r13 verdict #2): the
    pair enumeration dispatches on the broadcast threshold —
    broadcastable corpora keep the straight self-join, beyond it
    the adaptive salted form splits each basket into hash segments.
    Pins: (a) both forms produce the IDENTICAL full result set on a
    skewed corpus (one 600-item basket = multiple segments, many
    2-item baskets = one segment, so both join branches carry
    rows); (b) the dispatch actually switches (salted plan carries
    the __seg segment column, plain does not); (c) the default
    bench-scale plan stays plain (testdata is far under the
    threshold). The corpus is parquet-backed: a createDataFrame
    frame has NO size estimate (Long.MaxValue — Spark would not
    auto-broadcast it either, and the dispatch rightly goes
    salted), so only a file-backed plan exercises both branches."""
    from duckdb_retail_pipeline_spark.queries import analytics as A

    # skewed synthetic corpus: one mega basket + a uniform tail
    rows = [(1, p) for p in range(600)]
    rows += [(100 + o, p) for o in range(300) for p in (o % 50, o % 50 + 7)]
    path = str(tmp_path / "skewed_items.parquet")
    spark.createDataFrame(rows, "l_orderkey int, l_partkey int").write.parquet(
        path
    )
    items = spark.read.parquet(path)

    def full(df):
        return sorted(tuple(r) for r in df.collect())

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        plain = A._x66_pair_supports(items)
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "__seg" not in plain_plan  # tiny file: broadcastable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        salted = A._x66_pair_supports(items)
        salted_plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "__seg" in salted_plan  # dispatch switched
        assert full(plain) == full(salted)  # exact, full result set
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # the registered query on driver testdata keeps the plain plan
    q = A.x66_basket_pairs(spark, sf_dir)
    assert "__seg" not in q._jdf.queryExecution().executedPlan().toString()

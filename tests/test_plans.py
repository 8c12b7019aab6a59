"""Physical-plan contracts: the 100×-scale-up checks from the build
brief, asserted on `.explain` output rather than eyeballed —
pushdown reaches the scan, projections prune, dim joins broadcast,
hot paths stay in whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.pipeline.run import layer_plan
from duckdb_retail_pipeline_spark.plans import explain as X
from duckdb_retail_pipeline_spark.queries import REGISTRY
from duckdb_retail_pipeline_spark.queries.base import tbl


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    li = tbl(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 10).select("l_orderkey")
    plan = X.formatted_plan(df)
    assert any(
        "PushedFilters" in line and "l_quantity" in line for line in plan.splitlines()
    ), plan


def test_column_pruning_two_column_projection(spark, sf_dir):
    li = tbl(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    cols = X.read_schema_columns(df)
    assert cols == {"l_returnflag", "l_quantity"}, cols


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    df = REGISTRY["q21_multikey_star_agg"].fn(spark, sf_dir)
    assert X.broadcast_join_count(df) >= 3, X.formatted_plan(df)
    assert X.sort_merge_join_count(df) == 0


def test_scaling_tables_broadcast_via_threshold_not_hint(spark, sf_dir):
    """customer/part scale with SF, so they carry NO F.broadcast()
    hint (a hint bypasses the 64 MB threshold and would OOM at 100×).
    At small SF the threshold must still pick broadcast-hash joins —
    the hint removal costs nothing locally while the same plan
    degrades gracefully to shuffle at cluster scale."""
    for name in ("q03_top_customers", "q12_ratio_nullif", "q21_multikey_star_agg"):
        df = REGISTRY[name].fn(spark, sf_dir)
        assert X.broadcast_join_count(df) >= 1, (name, X.formatted_plan(df))
        assert X.sort_merge_join_count(df) == 0, (name, X.formatted_plan(df))


def test_staging_star_broadcasts_via_threshold(spark, sf_dir):
    """pl01's customer/part joins are unhinted; threshold-driven
    broadcast must still fire at test SF."""
    df = layer_plan(spark, sf_dir, "raw_retail_data")
    assert X.broadcast_join_count(df) >= 2, X.formatted_plan(df)
    assert X.sort_merge_join_count(df) == 0, X.formatted_plan(df)


def test_dimensions_are_one_pass_aggregates(spark, sf_dir):
    """dim_product / dim_customer fold their MODE into the aggregate
    that counts (key, value) pairs: no row_number window, no join back
    to a separate key set."""
    for name in ("dim_product", "dim_customer"):
        plan = X.formatted_plan(layer_plan(spark, sf_dir, name))
        assert "Window" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_flagship_has_codegen(spark, sf_dir):
    df = REGISTRY["q02_monthly_revenue_by_nation"].fn(spark, sf_dir)
    assert X.codegen_span_count(df) >= 1


def test_topk_plans_take_ordered(spark, sf_dir):
    df = REGISTRY["q03_top_customers"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in X.formatted_plan(df)


def test_asof_join_is_single_shuffle_no_cross_product(spark, sf_dir):
    df = REGISTRY["q25_asof_join"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_correlated_subqueries_decorrelate_to_joins(spark, sf_dir):
    """EXISTS / NOT EXISTS / correlated scalar must plan as semi /
    anti / aggregate joins — never per-row nested-loop subqueries."""
    df = REGISTRY["a13_correlated_subqueries"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    low = plan.lower()
    assert "semi" in low and "anti" in low, plan


def test_sequence_packing_single_shuffle(spark, sf_dir):
    """x33's window partitions by shard and the follow-up groupBy
    keys on (shard, seq_id) — HashPartitioning(shard) already
    clusters those groups, so Catalyst must plan exactly ONE
    exchange. A second exchange would mean the packing cumsum and
    the per-sequence rollup stopped sharing their partitioning (the
    property that makes packing scale as independent shards).

    Pinned on the UNWRAPPED builder (r13): the registered fn is
    plan_memo'd, so by the time this test runs another test has
    usually executed the shared frame and its plan string is the
    FINAL adaptive plan — where AQE's coalescing of the window
    shuffle (small-data-only, by construction) drops the strict
    HashPartitioning guarantee and EnsureRequirements inserts a
    second runtime exchange over the coalesced rows. The static
    planned shape this test exists to pin is unchanged; at scale the
    first shuffle's output is too large to coalesce and the second
    exchange never appears."""
    fn = REGISTRY["x33_sequence_packing"].fn
    df = getattr(fn, "__wrapped__", fn)(spark, sf_dir)
    plan = X.formatted_plan(df)
    # formatted mode lists each shuffle as an "Arguments:
    # hashpartitioning(...)" detail line — one per exchange
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_repetition_filter_no_cross_product(spark, sf_dir):
    df = REGISTRY["x32_repetition_filter"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_binned_is_equi_join(spark, sf_dir):
    """x43's whole point: the interval-overlap join must plan as a
    hash equi-join on the bin key — a naive `s < w_end AND e >= w`
    join plans as BroadcastNestedLoopJoin, which scans every
    (interval, window) pair and dies at 100 TB."""
    df = REGISTRY["x43_range_join_binned"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_plans_salted_shape(spark, sf_dir):
    """x48 must carry the salt through the join: the exploded salt
    column appears in the join keys, and no nested-loop fallback."""
    df = REGISTRY["x48_salted_join"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "__salt" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_profiling_single_pass(spark, sf_dir):
    """x49 computes all per-column metrics in one aggregate over one
    scan — the plan must read the orders parquet exactly once."""
    df = REGISTRY["x49_data_profiling"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert plan.count("orders.parquet") <= 1, plan


def test_basket_pairs_no_cartesian(spark, sf_dir):
    """x66's pair generation must stay an order-keyed equi-join —
    the Apriori candidate bound depends on it."""
    df = REGISTRY["x66_basket_pairs"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k never global-sorts


def test_rolling_distinct_users_bounded_explode(spark, sf_dir):
    """x76's sliding COUNT DISTINCT is a bounded 24-way explode into
    an equi-keyed aggregate — a naive self-join on the time-range
    predicate would plan as a nested-loop and die at 100 TB."""
    df = REGISTRY["x76_rolling_distinct_users"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the bounded explode is the operator


def test_stream_stream_left_outer_cutoff_is_broadcast(spark, sf_dir):
    """x85's closed-click cutoff is a 1-row bound; the post-stream
    filter must apply it via broadcast, never a shuffle."""
    df = REGISTRY["x85_stream_stream_left_outer"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # 1-row cutoff frame joins as a broadcast nested loop (cross of
    # exactly one row) or broadcast hash — never a sort-merge shuffle
    assert "SortMergeJoin" not in plan


def test_deletion_audit_broadcasts_deletion_set(spark, sf_dir):
    """x69's deletion set is request-table-sized; it must reach the
    events scan as a broadcast, never a shuffle of the fact side."""
    df = REGISTRY["x69_deletion_audit"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert X.broadcast_join_count(df) >= 1, plan
    assert "CartesianProduct" not in plan


def test_seasonal_anomaly_baseline_broadcasts(spark, sf_dir):
    """x62's (type, dow) baseline is ~35 rows; joining it back onto
    the daily frame must broadcast."""
    df = REGISTRY["x62_seasonal_anomaly"].fn(spark, sf_dir)
    assert X.broadcast_join_count(df) >= 1, X.formatted_plan(df)


def test_salted_agg_two_phase(spark, sf_dir):
    """x35 must actually plan the salted shape: a partial aggregate
    keyed by (event_type, salt) before the final per-key aggregate —
    visible as aggregates over the salt column in the plan."""
    df = REGISTRY["x35_salted_agg"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "__salt" in plan, plan
    assert "CartesianProduct" not in plan


def test_window_surface_single_shuffle(spark, sf_dir):
    """All seven ranking functions in a11 share one window spec →
    exactly one exchange (plus the broadcast for the dim join)."""
    df = REGISTRY["a11_window_rank_surface"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    # nth_value uses a different frame, but the partitioning matches,
    # so Catalyst must not add a second hash exchange. (Counted via
    # the formatted-mode "Arguments: hashpartitioning" detail lines —
    # the old "Exchange hashpartitioning" literal never occurs in
    # formatted output, which made this assertion vacuous.)
    assert plan.count("Arguments: hashpartitioning") <= 1, plan


def test_agg_country_day_post_agg_calendar_join(spark, sf_dir):
    """pl09's shuffle must carry only (date, country) grouping keys;
    the calendar attributes join on the aggregated rows (broadcast),
    so no 8-key exchange appears in the plan."""
    df = layer_plan(spark, sf_dir, "agg_country_day")
    plan = X.formatted_plan(df)
    shuffles = plan.split("hashpartitioning(")[1:]
    assert shuffles, plan
    for seg in shuffles:
        keys = seg.split(")")[0]
        assert "is_weekend" not in keys, keys


def test_monthly_summary_has_no_distinct_aggregate(spark, sf_dir):
    """pl10 counts trading days over agg_country_day's (date, country)
    key, which makes each date unique per (month, country) group: no
    distinct aggregate, so no Expand and no extra aggregation levels."""
    plan = X.formatted_plan(layer_plan(spark, sf_dir, "v_monthly_sales_summary"))
    assert "count(distinct" not in plan.lower(), plan
    assert "Expand" not in plan, plan


def test_phrase_search_is_equi_join_on_postings(spark, sf_dir):
    """x90's positional intersection must plan as a hash equi-join on
    (doc, start) — never a nested-loop/cartesian over postings. The
    index BUILD must read only (doc_id, text) from the documents
    scan; the registered query serves from the memoized persisted
    index (InMemoryTableScan once cached), so the pruning assertion
    pins the build plan and the serve assertions pin the query."""
    from duckdb_retail_pipeline_spark.operators import search as SR
    from duckdb_retail_pipeline_spark.queries.base import tbl

    build = SR.positional_index(tbl(spark, sf_dir, "documents"))
    assert X.read_schema_columns(build) == {"doc_id", "text"}

    df = REGISTRY["x90_phrase_search"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # force materialization: the SECOND invocation must serve from the
    # cached index, not rebuild from the parquet scan
    df.collect()
    warm = X.formatted_plan(REGISTRY["x90_phrase_search"].fn(spark, sf_dir))
    assert "InMemoryTableScan" in warm, warm


def test_ivf_pq_refine_broadcasts_shortlist(spark, sf_dir):
    """x89's exact-refine stage joins the corpus against the ADC
    top-160 shortlist — shortlist-sized, so it must broadcast (never
    shuffle the corpus for 160 ids), and no cartesian may appear."""
    df = REGISTRY["x89_ivf_pq_topk"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert X.broadcast_join_count(df) >= 1, plan


def test_ann_index_upsert_no_cartesian_and_anti_join(spark, sf_dir):
    """x91's ingest path: the same-id supersede is a (broadcastable)
    anti-join, the consistency check joins tiny top-k frames — no
    cartesian product anywhere in the contract frame's plan."""
    df = REGISTRY["x91_ann_index_upsert"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_bigram_lm_prunes_documents_scan(spark, sf_dir):
    """x87 must read only (doc_id, text) from the documents scan, and
    its count-table joins must never plan a cartesian."""
    df = REGISTRY["x87_bigram_lm_quality"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert X.read_schema_columns(df) == {"doc_id", "text"}, plan
    assert "CartesianProduct" not in plan, plan


def test_rrf_hybrid_joins_are_list_sized(spark, sf_dir):
    """x88's fusion join touches two top-20 lists — the plan may not
    contain a cartesian; the one crossJoin-free shape is pinned."""
    df = REGISTRY["x88_rrf_hybrid"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan


def test_pagerank_iterations_are_equi_joins(spark, sf_dir):
    """x92's three unrolled iterations must plan as hash equi-joins
    (edges ⋈ node-sized ranks) — never a cartesian/nested-loop over
    the edge frame."""
    df = REGISTRY["x92_copurchase_pagerank"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_frequent_tokens_recount_broadcasts_candidates(spark, sf_dir):
    """x93's second pass must join the token stream against the
    BROADCAST candidate union (capacity-bounded, KBs) — the full
    vocabulary must never shuffle; the only nested-loop joins are the
    one-row contract-frame crossJoins."""
    df = REGISTRY["x93_frequent_tokens"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert X.broadcast_join_count(df) >= 1, plan


def test_positional_index_on_disk_partition_prunes(spark, sf_dir, tmp_path):
    """The x90 deployment layout: the positional index written ONCE
    as parquet partitioned by token. A phrase probe over the on-disk
    index must hit partition pruning (PartitionFilters on token), so
    each query reads only its words' posting directories — the disk
    twin of the memoized token-clustered cache the registered query
    serves from."""
    from duckdb_retail_pipeline_spark.operators import search as SR
    from duckdb_retail_pipeline_spark.queries.base import tbl

    docs = tbl(spark, sf_dir, "documents").limit(200)
    p = str(tmp_path / "posidx")
    SR.positional_index(docs).write.partitionBy("token").parquet(p)

    idx = spark.read.parquet(p)
    probe = SR.phrase_search(idx, ["slow", "join"])
    plan = X.formatted_plan(probe)
    assert "PartitionFilters: [" in plan, plan
    # the token filter must appear as a partition filter, not a data
    # filter over a full scan
    seg = [s for s in plan.split("PartitionFilters: [")[1:] if "token" in s.split("]")[0]]
    assert seg, plan


def test_pagerank_dangling_no_edge_sized_nested_loops(spark, sf_dir):
    """x94's redistribute path adds two one-row scalar frames per
    iteration (dangling mass, node count) that legitimately
    crossJoin by broadcast; the EDGE-sized joins must still plan as
    hash equi-joins — a cartesian over edges or nodes would be the
    accidental-quadratic regression."""
    import re

    df = REGISTRY["x94_pagerank_dangling"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    # an unbroadcast crossJoin plans as CartesianProduct — this is
    # the check that fires if the scalar frames stop broadcasting
    assert "CartesianProduct" not in plan, plan
    # the only nested loops allowed are the intended one-row scalar
    # crossJoins: two per iteration (n_nodes into the dangling-mass
    # share, share into the universe rebuild). Count unique plan-node
    # ids, not substring hits — the formatted details section repeats
    # each node's header. (An earlier draft asserted on
    # 'ShuffledNestedLoopJoin', a node Spark does not have — the
    # assert could never fire.)
    from duckdb_retail_pipeline_spark.queries.analytics import _X94_ITERS

    bnlj = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    # 2 scalar crossJoins per iteration — bound tied to the query's
    # own constant so an iteration change can't silently loosen it
    assert len(bnlj) <= 2 * _X94_ITERS, plan


def test_copurchase_edge_build_single_fact_exchange(spark, sf_dir):
    """The edge build's dedup + cap window + self-join must share ONE
    exchange on l_orderkey (hash(l_orderkey) co-locates every
    (l_orderkey, l_partkey) duplicate, so the subset partitioning
    satisfies the dropDuplicates clustering): with broadcast
    disabled — the at-scale shape the claim is about; at test SFs the
    tiny side broadcasts and duplicates the items subtree instead —
    the plan carries at most 3 Exchange nodes total (fact
    repartition + pair-distinct + margin for an AQE read), where the
    pre-r10 shape paid a second full-fact exchange for the
    (orderkey, partkey) distinct before the window re-exchange."""
    from duckdb_retail_pipeline_spark.operators import graph as G
    from duckdb_retail_pipeline_spark.queries.base import tbl

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # restore the SAVED value, not a hardcoded default: if session.py's
    # default ever changes, a hardcoded restore would leave every later
    # test in the shared session under a stale config (r10 ADVICE)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        new_n = X.exchange_count(G.copurchase_edges(li))

        # the pre-r10 shape, inline: plain distinct first, so the
        # window (and each join side) re-exchanges the deduped fact
        items = li.distinct()
        w = Window.partitionBy("l_orderkey").orderBy(
            F.xxhash64("l_partkey"), F.col("l_partkey")
        )
        items = (
            items.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 64)
            .drop("_rn")
        )
        a = items.select("l_orderkey", F.col("l_partkey").alias("src"))
        b = items.select("l_orderkey", F.col("l_partkey").alias("dst"))
        old = (
            a.join(b, "l_orderkey")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        old_n = X.exchange_count(old)
        assert new_n < old_n, (
            f"new={new_n} old={old_n}\n" + X.formatted_plan(
                G.copurchase_edges(li)
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def test_fact_layer_dims_broadcast_via_threshold_not_hint(spark, sf_dir):
    """r12 review: build_fct_sales / build_agg_country_day forced
    F.broadcast() on dim_product and dim_customer, which GROW with
    the corpus (distinct SKUs / customer ids) — a forced broadcast of
    a corpus-growing dim is the 100 TB OOM the r7 q02/q17
    adjudication removed one layer down. The hints are gone; at test
    SF the threshold must still pick broadcast-hash joins for every
    dim, so the driver-gated plan is physically unchanged while the
    same logical plan degrades gracefully to shuffle at scale."""
    # source property: build_fct_sales/build_agg_country_day carry
    # no broadcast() on the growing dims — pinned at the source level
    # (the analyzed-plan tree inlines cached subtrees, multiplying
    # the remaining legitimate hints, so a hint COUNT there is
    # unreliable)
    import inspect

    from duckdb_retail_pipeline_spark.pipeline import aggregates, facts

    for fn in (facts.build_fct_sales, aggregates.build_agg_country_day):
        src = inspect.getsource(fn)
        assert "broadcast(dim_product" not in src, fn.__name__
        assert "broadcast(dim_customer" not in src, fn.__name__
    # plan property: with the hints gone, the threshold/AQE still
    # picks broadcast-hash joins for the (actually small) dims at
    # test SF. Co-partitioned dim-INTERNAL SortMergeJoins (seen ⋈
    # mode on the same grouping key — zero extra exchange) are the
    # optimal plan and explicitly allowed; only the second run sees
    # materialized cache stats, so assert on the final adaptive plan
    # of a fresh invocation after warmup.
    for name in ("fct_sales", "agg_country_day"):
        layer_plan(spark, sf_dir, name).collect()  # warm-up run
        plan = X.final_plan(layer_plan(spark, sf_dir, name))
        assert plan.count("BroadcastHashJoin") >= 2, (name, plan)

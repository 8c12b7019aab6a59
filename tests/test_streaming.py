from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.streaming import events as SE


def test_sliding_windows_complete_mode(spark, sf_dir):
    stream = SE.read_events_stream(spark, sf_dir)
    agg = SE.sliding_event_counts(stream)
    out = SE.run_stream_to_memory(agg, spark, output_mode="complete")
    rows = out.collect()
    assert len(rows) > 0
    # sliding 1h/15min: every event lands in 4 windows
    total_batch = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r["n_events"] for r in rows) == 4 * total_batch


def test_streaming_session_windows(spark, sf_dir):
    stream = SE.read_events_stream(spark, sf_dir)
    agg = SE.session_windows(stream)
    out = SE.run_stream_to_memory(agg, spark, output_mode="complete")
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["session_end"] >= r["session_start"] for r in rows)


def test_stateful_running_totals(spark, sf_dir):
    stream = SE.read_events_stream(spark, sf_dir)
    out_stream = SE.stateful_user_running_totals(stream)
    out = SE.run_stream_to_memory(out_stream, spark, output_mode="update")
    rows = out.collect()
    assert len(rows) > 0
    # final state per user equals the batch per-user counts
    from duckdb_retail_pipeline_spark.catalog import load_events

    batch = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    expected = {r["user_id"]: r["n"] for r in batch}
    got = {}
    for r in rows:  # update mode may emit per-batch rows; last wins
        got[r["user_id"]] = r["n_events"]
    assert got == expected


def test_normalize_event_ts_all_source_layouts(spark, tmp_path):
    """One normalization point for every ts layout the testdata has
    shipped: nanos-as-bigint, TIMESTAMP_NTZ(µs), and tz-aware LTZ all
    come out as TIMESTAMP (LTZ) with identical instant values — and
    the result is watermark-able (the r3 regression: a TIMESTAMP_NTZ
    ts made withWatermark throw EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_retail_pipeline_spark.catalog import normalize_event_ts

    instants = [dt.datetime(2024, 3, 1, 8, 30, 15), dt.datetime(2024, 3, 2, 23, 59, 59)]
    layouts = {
        "ntz": pa.array(instants, type=pa.timestamp("us")),
        "ltz": pa.array(
            [t.replace(tzinfo=dt.timezone.utc) for t in instants],
            type=pa.timestamp("us", tz="UTC"),
        ),
        "nanos_bigint": pa.array(
            [int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) * 1000
             for t in instants],
            type=pa.int64(),
        ),
    }
    results = {}
    for name, arr in layouts.items():
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"ts": arr}), p)
        df = normalize_event_ts(spark.read.parquet(p))
        assert df.schema["ts"].dataType.simpleString() == "timestamp", name
        # watermark-ability is the contract that broke in r3
        df.withWatermark("ts", "10 minutes")
        results[name] = sorted(r["ts"] for r in df.collect())
    assert results["ntz"] == results["ltz"] == results["nanos_bigint"]


def test_watermark_drops_late_data(spark, tmp_path):
    """The real (documented) watermark semantic, demonstrated with
    one file per micro-batch (maxFilesPerTrigger=1, ordered by
    mtime): a window is finalized + its state evicted in the batch
    where the watermark passes its end; a late row arriving AFTER
    eviction is dropped (numRowsDroppedByWatermark) and never
    reopens the window. A row that is merely behind the watermark
    but whose window is still live is best-effort merged — Spark
    only guarantees drops after eviction, which is why the late
    event here must trail by two batches."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "stream_in"
    d.mkdir()

    def write(name, times):
        t = pa.table(
            {
                "ts": pa.array(times, type=pa.timestamp("us", tz="UTC")),
                "event_type": pa.array(["click"] * len(times)),
            }
        )
        pq.write_table(t, str(d / name))

    write("b1.parquet", [dt.datetime(2024, 1, 1, 12, 0), dt.datetime(2024, 1, 1, 12, 59)])
    write("b2.parquet", [dt.datetime(2024, 1, 1, 15, 0)])   # wm → 14:50
    write("b3.parquet", [dt.datetime(2024, 1, 1, 15, 30)])  # 12:00 window evicted here
    write("b4.parquet", [dt.datetime(2024, 1, 1, 12, 30)])  # late: window already gone
    for i, f in enumerate(["b1", "b2", "b3", "b4"]):
        os.utime(str(d / f"{f}.parquet"), (1_000_000 * (i + 1), 1_000_000 * (i + 1)))

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    out = SE.run_stream_to_memory(agg, spark, output_mode="append")
    rows = {r["window_start"]: r["n"] for r in out.collect()}
    # the finalized noon window counts only the 2 on-time events —
    # the 12:30 straggler was dropped, not merged or re-emitted
    assert rows[dt.datetime(2024, 1, 1, 12, 0)] == 2, rows


def test_streaming_dedup_holds_state_across_batches(spark, tmp_path):
    """dropDuplicates state must span micro-batches: a document
    arriving again in a LATER batch is suppressed, not re-emitted —
    the property a batch-per-file distinct would not have."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    d = tmp_path / "docs_in"
    d.mkdir()
    b1 = ["alpha beta", "gamma delta", "alpha beta"]          # intra-batch dup
    b2 = ["gamma delta", "epsilon zeta"]                      # cross-batch dup
    for name, texts in [("b1.parquet", b1), ("b2.parquet", b2)]:
        pq.write_table(
            pa.table({"doc_id": list(range(len(texts))), "text": texts}),
            str(d / name),
        )
    os.utime(str(d / "b1.parquet"), (1_000_000, 1_000_000))
    os.utime(str(d / "b2.parquet"), (2_000_000, 2_000_000))

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = SE.run_stream_to_memory(
        SE.streaming_exact_dedup(stream), spark, output_mode="append"
    )
    fps = [r["fp"] for r in out.collect()]
    assert len(fps) == 3  # alpha-beta, gamma-delta, epsilon-zeta: once each
    assert len(set(fps)) == 3


def test_run_stream_to_memory_raises_on_timeout(spark, sf_dir, monkeypatch):
    """A timeout must raise (and stop the query), never return a
    silently partial memory table. awaitTermination's False return is
    simulated so the test is deterministic at any machine speed."""
    import pytest
    from pyspark.sql.streaming.query import StreamingQuery

    from duckdb_retail_pipeline_spark.streaming import events as SE

    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, t=None: False)
    stopped = []
    real_stop = StreamingQuery.stop
    monkeypatch.setattr(
        StreamingQuery, "stop", lambda self: (stopped.append(1), real_stop(self))[1]
    )

    stream = SE.read_events_stream(spark, sf_dir)
    agg = SE.hourly_event_counts(stream)
    with pytest.raises(TimeoutError, match="did not finish"):
        SE.run_stream_to_memory(agg, spark, timeout_s=5)
    assert stopped  # the timed-out query was stopped, not leaked


def test_upsert_fresh_run_clears_stale_batch_partitions(spark, tmp_path):
    """batch ids are only meaningful relative to one checkpoint's
    offsets: partials left under dest by a PREVIOUS run (different
    checkpoint/batching) must not survive into a fresh run's final
    aggregate — run 1 file-per-batch, then run 2 single-batch into
    the SAME dest must equal the single-run truth, not double it."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ups_in"
    d.mkdir()
    for i, name in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [dt.datetime(2024, 1, 1 + i, 10, 0)],
                        type=pa.timestamp("us", tz="UTC"),
                    ),
                    "event_type": pa.array(["click"]),
                    "value": pa.array([1.0]),
                }
            ),
            str(d / name),
        )
        os.utime(str(d / name), (1_000_000 * (i + 1),) * 2)

    dest = str(tmp_path / "ups_out")
    first = SE.stream_upsert_daily_totals(
        spark, str(d), dest, glob="*.parquet", max_files_per_trigger=1
    )
    assert first.count() == 3  # three days, batch=0,1,2 on disk
    second = SE.stream_upsert_daily_totals(
        spark, str(d), dest, glob="*.parquet"  # fresh ckpt: ONE batch
    )
    rows = {(r["day"], r["event_type"]): r["n_events"] for r in second.collect()}
    assert len(rows) == 3
    assert all(n == 1 for n in rows.values()), rows  # no double count


def test_upsert_failed_fresh_run_leaves_prior_results_intact(
    spark, tmp_path, monkeypatch
):
    """r8 ADVICE: a fresh run that dies mid-stream must leave the
    PREVIOUS run's committed results byte-for-byte intact — no mixed
    dest of new-partials-for-some-ids + stale-partials-for-the-rest.
    Fresh runs write to a dot-prefixed staging dir and swap only
    after commit, so a timeout/failure at any point before the swap
    leaves dest untouched; the leftover staging is swept by the next
    fresh run."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql.streaming.query import StreamingQuery

    from duckdb_retail_pipeline_spark.streaming import events as SE

    d = tmp_path / "atom_in"
    d.mkdir()
    for i, name in enumerate(["a.parquet", "b.parquet"]):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [dt.datetime(2024, 1, 1 + i, 10, 0)],
                        type=pa.timestamp("us", tz="UTC"),
                    ),
                    "event_type": pa.array(["click"]),
                    "value": pa.array([1.0]),
                }
            ),
            str(d / name),
        )
        os.utime(str(d / name), (1_000_000 * (i + 1),) * 2)

    dest = str(tmp_path / "atom_out")
    first = SE.stream_upsert_daily_totals(spark, str(d), dest, glob="*.parquet")
    truth = {(r["day"], r["event_type"]): r["n_events"] for r in first.collect()}
    committed_before = sorted(os.listdir(dest))

    # second fresh run "fails" (timeout before commit): dest must be
    # untouched even though the run's foreachBatch may have written
    # partials — they all went to the staging dir
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, t=None: False)
    with pytest.raises(TimeoutError, match="did not finish"):
        SE.stream_upsert_daily_totals(spark, str(d), dest, glob="*.parquet")
    assert sorted(
        p for p in os.listdir(dest) if not p.startswith(".")
    ) == committed_before
    monkeypatch.undo()

    # the next SUCCESSFUL fresh run sweeps the leftover staging and
    # produces the single-run truth
    third = SE.stream_upsert_daily_totals(spark, str(d), dest, glob="*.parquet")
    assert {
        (r["day"], r["event_type"]): r["n_events"] for r in third.collect()
    } == truth
    assert not [p for p in os.listdir(dest) if p.startswith(".staging-")]


def test_upsert_recovers_from_crash_inside_swap_window(spark, tmp_path):
    """r9 verdict #5b: the commit swap is delete-then-rename per batch
    id, so a crash INSIDE the ms-scale swap window can leave the worst
    on-disk state — one dest batch deleted with its replacement still
    in the (invisible) staging dir, other dest batches stale, the
    staging dir orphaned. The documented recovery is the next fresh
    run: it must sweep the orphaned staging, rebuild every partial
    from source, and land exactly the single-run truth — no loss, no
    double counting, no leftover dot-dirs."""
    import datetime as dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "swap_in"
    d.mkdir()
    for i, name in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [dt.datetime(2024, 1, 1 + i, 10, 0)],
                        type=pa.timestamp("us", tz="UTC"),
                    ),
                    "event_type": pa.array(["click"]),
                    "value": pa.array([1.0]),
                }
            ),
            str(d / name),
        )
        os.utime(str(d / name), (1_000_000 * (i + 1),) * 2)

    dest = str(tmp_path / "swap_out")
    first = SE.stream_upsert_daily_totals(
        spark, str(d), dest, glob="*.parquet", max_files_per_trigger=1
    )
    truth = {(r["day"], r["event_type"]): r["n_events"] for r in first.collect()}
    assert sorted(
        p for p in os.listdir(dest) if p.startswith("batch=")
    ) == ["batch=0", "batch=1", "batch=2"]

    # hand-craft the mid-swap crash state: the dying run had staged
    # batch=0 and batch=1, swapped nothing yet for batch=0, and for
    # batch=1 crashed BETWEEN fs.delete(dst) and fs.rename(src, dst)
    staging = os.path.join(dest, ".staging-upsert_deadcafe00")
    os.makedirs(staging)
    shutil.copytree(
        os.path.join(dest, "batch=0"), os.path.join(staging, "batch=0")
    )
    shutil.move(
        os.path.join(dest, "batch=1"), os.path.join(staging, "batch=1")
    )
    assert not os.path.exists(os.path.join(dest, "batch=1"))

    # recovery = the next fresh run
    second = SE.stream_upsert_daily_totals(spark, str(d), dest, glob="*.parquet")
    assert {
        (r["day"], r["event_type"]): r["n_events"] for r in second.collect()
    } == truth
    leftover = [p for p in os.listdir(dest) if p.startswith(".")]
    assert not leftover, leftover


def test_stateful_totals_round_half_up_like_batch(spark, tmp_path):
    """Cent rounding inside the stateful operator must be HALF_UP on
    the shortest repr (≡ batch F.round(value*100, 0)), not numpy
    banker's half-even: value=0.125 is exactly representable and its
    cents land on 12.5 — batch says 13, .round() would say 12."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "half_in"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "ts": pa.array(
                    [dt.datetime(2024, 1, 1, 10, 0)] * 2,
                    type=pa.timestamp("us", tz="UTC"),
                ),
                "user_id": pa.array([5, 5], type=pa.int64()),
                "event_type": pa.array(["click"] * 2),
                "value": pa.array([0.125, 0.125]),
            }
        ),
        str(d / "a.parquet"),
    )
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    out = SE.run_stream_to_memory(
        SE.stateful_user_running_totals(stream), spark, output_mode="update"
    )
    got = {r["user_id"]: r["total_value"] for r in out.collect()}
    assert got[5] == 0.26, got  # 13 + 13 cents, not 12 + 12


def test_upsert_recovers_from_crash_before_stale_retire(spark, tmp_path):
    """The OTHER swap-window crash state (late-r10 probe; the r10
    test covers a crash mid-rename): the dying fresh run renamed ALL
    its staged batches into dest but crashed BEFORE the stale-retire
    loop, leaving a prior-run batch id the new run did not write.
    Reading dest in that window genuinely double-counts (asserted —
    the documented hazard is real, not theoretical); the next fresh
    run must retire the stale batch and land exactly the single-run
    truth with no leftovers."""
    import datetime as dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "retire_in"
    d.mkdir()
    for i, name in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [dt.datetime(2024, 1, 1 + i, 10, 0)],
                        type=pa.timestamp("us", tz="UTC"),
                    ),
                    "event_type": pa.array(["click"]),
                    "value": pa.array([1.0]),
                }
            ),
            str(d / name),
        )
        os.utime(str(d / name), (1_000_000 * (i + 1),) * 2)

    dest = str(tmp_path / "retire_out")
    first = SE.stream_upsert_daily_totals(
        spark, str(d), dest, glob="*.parquet", max_files_per_trigger=1
    )
    truth = sorted(tuple(r) for r in first.collect())

    # the stale leftover: a batch id the next run will not write,
    # holding a copy of batch=0's data — the double-count poison
    shutil.copytree(
        os.path.join(dest, "batch=0"), os.path.join(dest, "batch=7")
    )
    poisoned = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(dest, "batch=*"))
        .groupBy("day", "event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            (F.sum("pc") / 100.0).alias("total_value"),
        )
        .collect()
    )
    assert poisoned != truth  # the hazard is real in this window

    second = SE.stream_upsert_daily_totals(
        spark, str(d), dest, glob="*.parquet", max_files_per_trigger=1
    )
    assert sorted(tuple(r) for r in second.collect()) == truth
    leftovers = [
        p for p in os.listdir(dest)
        if p.startswith(".staging") or p == "batch=7"
    ]
    assert leftovers == []


def test_stateful_totals_state_survives_query_restart(spark, tmp_path):
    """Checkpoint-recovery pin (the one streaming property the r10/r11
    probes had not covered): applyInPandasWithState's GroupState must
    be RESTORED from the checkpoint's state store when a NEW query
    restarts over the same checkpoint — the production upgrade path
    (stop the job, deploy, restart). Phase 1 processes file A and
    terminates; file B arrives; phase 2 is a fresh query on the SAME
    checkpoint, so the file-source log skips A and the emitted totals
    must be CUMULATIVE (restored A-state + B), equal to a batch
    aggregate over A∪B — not B alone (state lost) and not 2×A+B
    (A replayed)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "restart_in"
    d.mkdir()
    ckpt = str(tmp_path / "restart_ckpt")

    def write(name, users_values):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [dt.datetime(2024, 1, 1, 10, 0)] * len(users_values),
                        type=pa.timestamp("us", tz="UTC"),
                    ),
                    "user_id": pa.array(
                        [u for u, _ in users_values], type=pa.int64()
                    ),
                    "event_type": pa.array(["click"] * len(users_values)),
                    "value": pa.array([v for _, v in users_values]),
                }
            ),
            str(d / name),
        )

    def run_phase():
        # foreachBatch, not the memory sink: memory is not
        # fault-tolerant and Spark refuses to START a query over an
        # existing checkpoint with it ("does not support recovering
        # from checkpoint location") — which is itself the loud,
        # correct behavior; the recoverable sink class is what a
        # production restart uses
        schema = spark.read.parquet(str(d)).schema
        stream = spark.readStream.schema(schema).parquet(str(d))
        rows: dict = {}

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                rows[r["user_id"]] = (r["n_events"], r["total_value"])

        q = (
            SE.stateful_user_running_totals(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return rows

    # phase 1: user 1 twice, user 2 once
    write("a.parquet", [(1, 1.00), (1, 2.00), (2, 5.00)])
    p1 = run_phase()
    assert p1 == {1: (2, 3.00), 2: (1, 5.00)}

    # phase 2: new file, NEW query, same checkpoint — user 1 gains
    # one event (cumulative 3 events / 7.50), user 3 is fresh;
    # user 2 has no new data and must not re-emit in update mode
    write("b.parquet", [(1, 4.50), (3, 9.25)])
    p2 = run_phase()
    assert p2 == {1: (3, 7.50), 3: (1, 9.25)}, p2


def test_upsert_new_checkpoint_over_stale_dest_retires_prior_partials(
    spark, tmp_path
):
    """r11 review (most severe find of the streaming pass): a caller
    opting into durability with a NEW checkpoint dir over a dest
    holding a PRIOR run's partials previously got resume-in-place
    semantics from the mere presence of the argument — its batch ids
    restart at 0, overwrite only what they reach, and surviving
    stale ids double-count. Fresh-ness now keys on the checkpoint
    HOLDING offsets: run B with an empty checkpoint must retire
    run A's partials and produce the exact batch totals."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime as dt

    src = tmp_path / "src"
    src.mkdir()

    def write(name, day, n):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [dt.datetime(2024, 1, day, 10, 0)] * n,
                        type=pa.timestamp("us", tz="UTC"),
                    ),
                    "user_id": pa.array(list(range(n)), type=pa.int64()),
                    "event_type": pa.array(["click"] * n),
                    "value": pa.array([1.0] * n),
                }
            ),
            str(src / name),
        )

    dest = str(tmp_path / "dest")
    # run A (anonymous checkpoint): 3 files, one batch each
    write("a.parquet", 1, 2)
    write("b.parquet", 2, 3)
    write("c.parquet", 3, 4)
    out_a = SE.stream_upsert_daily_totals(
        spark, str(src), dest, max_files_per_trigger=1, glob="*.parquet"
    )
    assert out_a.agg(F.sum("n_events")).first()[0] == 9

    # run B: NEW durable checkpoint, no maxFilesPerTrigger → a single
    # batch=0. Under the old argument-presence detection run A's
    # batch=1,2 survived and double-counted days 2-3.
    ckpt = str(tmp_path / "durable_ckpt")
    out_b = SE.stream_upsert_daily_totals(
        spark, str(src), dest, glob="*.parquet", checkpoint=ckpt
    )
    got = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in out_b.collect()
    }
    assert got == {
        ("2024-01-01", "click"): 2,
        ("2024-01-02", "click"): 3,
        ("2024-01-03", "click"): 4,
    }, got

    # run C: SAME checkpoint now holds offsets → genuine resume, new
    # file processed in place, totals stay exact
    write("d.parquet", 4, 5)
    out_c = SE.stream_upsert_daily_totals(
        spark, str(src), dest, glob="*.parquet", checkpoint=ckpt
    )
    assert out_c.agg(F.sum("n_events")).first()[0] == 14


def test_upsert_named_checkpoint_retry_completes_interrupted_commit(
    spark, tmp_path
):
    """r12 ADVICE (medium): a fresh run on a NAMED checkpoint that
    crashes after committing offsets but before finishing its swap
    leaves committed batches stranded in staging and stale prior-run
    partials live in dest; the old resume path saw offsets, took
    fresh=False, wrote in place, and returned an aggregate that both
    undercounted (stranded batches) and double-counted (stale ids).
    A retry on the same checkpoint must now FINISH the interrupted
    commit: swap every staged batch in, retire every dest batch id
    outside the checkpoint's commit log, and land the exact truth
    with no leftover dot-dirs."""
    import datetime as dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_retail_pipeline_spark.streaming import events as SE

    d = tmp_path / "ckretry_in"
    d.mkdir()
    for i, name in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [dt.datetime(2024, 1, 1 + i, 10, 0)],
                        type=pa.timestamp("us", tz="UTC"),
                    ),
                    "event_type": pa.array(["click"]),
                    "value": pa.array([1.0]),
                }
            ),
            str(d / name),
        )
        os.utime(str(d / name), (1_000_000 * (i + 1),) * 2)

    dest = str(tmp_path / "ckretry_out")
    # prior-run partials the crashed fresh run was replacing
    SE.stream_upsert_daily_totals(
        spark, str(d), dest, glob="*.parquet", max_files_per_trigger=1
    )

    # run the named-checkpoint fresh run to completion, then
    # hand-craft the worst interrupted-commit state from its output
    ckpt = str(tmp_path / "ckretry_ckpt")
    truth = sorted(
        tuple(r)
        for r in SE.stream_upsert_daily_totals(
            spark, str(d), dest, glob="*.parquet",
            max_files_per_trigger=1, checkpoint=ckpt,
        ).collect()
    )
    staging = SE._staging_root_for(dest, ckpt, name="unused")
    os.makedirs(staging)
    # batches 1 and 2: committed (in the checkpoint's commit log)
    # but never swapped — stranded in staging
    shutil.move(os.path.join(dest, "batch=1"), os.path.join(staging, "batch=1"))
    shutil.move(os.path.join(dest, "batch=2"), os.path.join(staging, "batch=2"))
    # batch=7: a stale prior-run partial the crashed run never
    # retired, holding a copy of batch=0 — the double-count poison
    shutil.copytree(os.path.join(dest, "batch=0"), os.path.join(dest, "batch=7"))

    # the retry on the SAME checkpoint (replays nothing new) must
    # finish the commit, not resume in place over the wreckage
    out = SE.stream_upsert_daily_totals(
        spark, str(d), dest, glob="*.parquet",
        max_files_per_trigger=1, checkpoint=ckpt,
    )
    assert sorted(tuple(r) for r in out.collect()) == truth
    assert sorted(
        p for p in os.listdir(dest) if p.startswith("batch=")
    ) == ["batch=0", "batch=1", "batch=2"]
    assert not [p for p in os.listdir(dest) if p.startswith(".")]


def test_upsert_named_checkpoint_crash_mid_stream_then_retry(spark, tmp_path):
    """The other r12 ADVICE window: the named-checkpoint fresh run
    crashes MID-STREAM (some batches committed + staged, dest and
    its stale prior partials untouched, nothing swapped). The retry
    must process the remaining batches into the same staging dir,
    then swap the union and retire the stale ids — equal to the
    single uninterrupted run."""
    import datetime as dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_retail_pipeline_spark.streaming import events as SE

    d = tmp_path / "midstream_in"
    d.mkdir()
    for i, name in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [dt.datetime(2024, 1, 1 + i, 10, 0)],
                        type=pa.timestamp("us", tz="UTC"),
                    ),
                    "event_type": pa.array(["click"]),
                    "value": pa.array([1.0]),
                }
            ),
            str(d / name),
        )
        os.utime(str(d / name), (1_000_000 * (i + 1),) * 2)

    dest = str(tmp_path / "midstream_out")
    SE.stream_upsert_daily_totals(
        spark, str(d), dest, glob="*.parquet", max_files_per_trigger=1
    )
    stale_dirs = sorted(
        p for p in os.listdir(dest) if p.startswith("batch=")
    )
    assert stale_dirs == ["batch=0", "batch=1", "batch=2"]

    ckpt = str(tmp_path / "midstream_ckpt")
    truth = sorted(
        tuple(r)
        for r in SE.stream_upsert_daily_totals(
            spark, str(d), dest, glob="*.parquet",
            max_files_per_trigger=1, checkpoint=ckpt,
        ).collect()
    )
    # reconstruct the mid-stream crash state: ALL the committed
    # batches back in staging (nothing swapped), prior-run stale ids
    # live in dest under colliding AND non-colliding batch ids
    staging = SE._staging_root_for(dest, ckpt, name="unused")
    os.makedirs(staging)
    for b in ["batch=0", "batch=1", "batch=2"]:
        shutil.move(os.path.join(dest, b), os.path.join(staging, b))
    # stale prior-run partials: batch=0 collides with an owned id,
    # batch=9 does not — both must be gone afterwards
    shutil.copytree(os.path.join(staging, "batch=1"), os.path.join(dest, "batch=0"))
    shutil.copytree(os.path.join(staging, "batch=1"), os.path.join(dest, "batch=9"))

    out = SE.stream_upsert_daily_totals(
        spark, str(d), dest, glob="*.parquet",
        max_files_per_trigger=1, checkpoint=ckpt,
    )
    assert sorted(tuple(r) for r in out.collect()) == truth
    assert sorted(
        p for p in os.listdir(dest) if p.startswith("batch=")
    ) == ["batch=0", "batch=1", "batch=2"]
    assert not [p for p in os.listdir(dest) if p.startswith(".")]


def test_upsert_retry_survives_commit_log_retention_purge(spark, tmp_path):
    """r13, closing the r12 ADVICE (medium): the checkpoint's
    commits/ dir is NOT a complete record of owned batch ids — Spark
    purges HDFSMetadataLog entries past
    spark.sql.streaming.minBatchesToRetain (default 100). A fresh
    run with more batches than the retention window that crashes
    mid-swap would, on retry, find its earliest ALREADY-SWAPPED ids
    absent from the commit log, not in written_ids, and not in
    staging — and the old retirement loop deleted them as stale
    prior-run partials, silently undercounting. The staging dir's
    ``_manifest/<id>`` markers (written per batch, durable,
    retention-independent) must keep those ids owned. Simulated here
    by hand-purging the earliest commit entry rather than running
    101 micro-batches."""
    import datetime as dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_retail_pipeline_spark.streaming import events as SE

    d = tmp_path / "purge_in"
    d.mkdir()
    for i, name in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [dt.datetime(2024, 1, 1 + i, 10, 0)],
                        type=pa.timestamp("us", tz="UTC"),
                    ),
                    "event_type": pa.array(["click"]),
                    "value": pa.array([1.0]),
                }
            ),
            str(d / name),
        )
        os.utime(str(d / name), (1_000_000 * (i + 1),) * 2)

    dest = str(tmp_path / "purge_out")
    ckpt = str(tmp_path / "purge_ckpt")
    truth = sorted(
        tuple(r)
        for r in SE.stream_upsert_daily_totals(
            spark, str(d), dest, glob="*.parquet",
            max_files_per_trigger=1, checkpoint=ckpt,
        ).collect()
    )

    # reconstruct the crash-mid-swap state of a long run whose
    # earliest commit entries were retention-purged: batch=0 already
    # swapped into dest, batches 1-2 stranded in staging, manifest
    # markers for ALL THREE (the run wrote them as it went), and the
    # commit log missing id 0
    staging = SE._staging_root_for(dest, ckpt, name="unused")
    for b in ["batch=1", "batch=2"]:
        os.makedirs(staging, exist_ok=True)
        shutil.move(os.path.join(dest, b), os.path.join(staging, b))
    for i in range(3):
        os.makedirs(os.path.join(staging, "_manifest", str(i)))
    os.remove(os.path.join(ckpt, "commits", "0"))
    # plus a genuinely stale prior-run partial that MUST still go
    shutil.copytree(os.path.join(dest, "batch=0"), os.path.join(dest, "batch=9"))

    out = SE.stream_upsert_daily_totals(
        spark, str(d), dest, glob="*.parquet",
        max_files_per_trigger=1, checkpoint=ckpt,
    )
    assert sorted(tuple(r) for r in out.collect()) == truth
    assert sorted(
        p for p in os.listdir(dest) if p.startswith("batch=")
    ) == ["batch=0", "batch=1", "batch=2"]
    assert not [p for p in os.listdir(dest) if p.startswith(".")]


def test_upsert_resume_rejects_foreign_staging_wreckage(spark, tmp_path):
    """r12 self-review of the recovery change: a resume can only
    prove ownership of ITS deterministic staging dir. A foreign
    .staging-upsert_* dir (another checkpoint's — or an anonymous
    run's — crash leftover) may mean dest already holds a partial
    swap of that other run, so resuming in place would return silent
    garbage; the resume must fail loudly and direct the caller to a
    fresh run. A trailing-slash respelling of the SAME checkpoint
    must still find its own pending dir (name normalization), not
    trip this guard."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from duckdb_retail_pipeline_spark.streaming import events as SE

    d = tmp_path / "foreign_in"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "ts": pa.array(
                    [dt.datetime(2024, 1, 1, 10, 0)],
                    type=pa.timestamp("us", tz="UTC"),
                ),
                "event_type": pa.array(["click"]),
                "value": pa.array([1.0]),
            }
        ),
        str(d / "a.parquet"),
    )
    dest = str(tmp_path / "foreign_out")
    ckpt = str(tmp_path / "foreign_ckpt")
    truth = sorted(
        tuple(r)
        for r in SE.stream_upsert_daily_totals(
            spark, str(d), dest, glob="*.parquet", checkpoint=ckpt
        ).collect()
    )

    # the same checkpoint spelled with a trailing slash maps to the
    # SAME staging name — build both and check
    assert SE._staging_root_for(dest, ckpt, "n") == SE._staging_root_for(
        dest, ckpt + "/", "n"
    )

    # foreign wreckage: another run's staging dir appears under dest
    os.makedirs(os.path.join(dest, ".staging-upsert_deadbeef01"))
    with pytest.raises(IOError, match="foreign staging"):
        SE.stream_upsert_daily_totals(
            spark, str(d), dest, glob="*.parquet", checkpoint=ckpt
        )

    # remediation path: a FRESH run sweeps it and lands the truth
    out = SE.stream_upsert_daily_totals(spark, str(d), dest, glob="*.parquet")
    assert sorted(tuple(r) for r in out.collect()) == truth
    assert not [p for p in os.listdir(dest) if p.startswith(".")]

"""Structured Streaming surface over the events table.

The reference is pure batch (SURVEY.md §2.10) — this is the engine's
from-scratch streaming extension: windowed aggregation with
watermarks, session windows, and a stateful custom operator, all on
``readStream``. Batch twins of these queries live in
queries/extensions.py so the streaming results are oracle-checkable
(bounded input ⇒ streaming complete-mode output ≡ batch result).

At scale the source would be Kafka; the parquet directory source
used here exercises the identical logical plan — only the source
exchange differs.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.aggregates import cents


def _read_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str,
    normalize: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The one streaming file-source constructor (schema pinned from
    a batch probe — streaming sources need explicit schemas; the
    source wants a DIRECTORY, so the sf dir is streamed with a glob
    pinned to one file). Three call sites previously each hand-built
    this reader and the session-convention guards drifted apart —
    exactly one copy now exists.

    ``normalize`` routes event time through the same
    catalog.normalize_event_ts as the batch path (``ts`` always
    TIMESTAMP LTZ — a watermark on TIMESTAMP_NTZ is an
    AnalysisException). Every stream read applies the session contract
    FIRST (session.tune_for_session): the schema probe must see
    nanosAsLong, the NTZ→LTZ cast interprets naive event time in the
    session timezone, and a stream read might be the session's first
    table touch."""
    from ..catalog import normalize_event_ts
    from ..session import tune_for_session

    tune_for_session(spark)
    # Directory-aware source resolution (r13 probe wave): at scale a
    # table is a DIRECTORY of part files, not one file — but
    # pathGlobFilter matches FILE names only, so a directory named
    # ``events.parquet`` streamed via the filter yields zero files
    # and an UNABLE_TO_INFER_SCHEMA. When the glob is a literal name
    # (no metacharacters) that resolves to a directory, stream that
    # directory as the source path; wildcard globs keep the
    # pathGlobFilter route (the single-file driver-testdata layout).
    src, filt = sf_dir, glob
    if not any(ch in glob for ch in "*?[]{}"):
        jvm = spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(os.path.join(sf_dir, glob))
        fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if fs.exists(p) and fs.getFileStatus(p).isDirectory():
            src, filt = os.path.join(sf_dir, glob), None
    batch = spark.read
    reader = spark.readStream
    if filt is not None:
        batch = batch.option("pathGlobFilter", filt)
    schema = batch.parquet(src).schema
    reader = reader.schema(schema)
    if filt is not None:
        reader = reader.option("pathGlobFilter", filt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src)
    return normalize_event_ts(stream) if normalize else stream


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events parquet; event time normalized to
    TIMESTAMP (LTZ) under the pinned-UTC session convention."""
    return _read_stream(spark, sf_dir, "events.parquet", normalize=True)


def hourly_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows with a 10-minute watermark: count and
    2-dp-exact value sum per (window, event_type)."""
    # the shared integer-cents convention — NOT re-derived inline, so
    # a rounding-convention change reaches the streaming twin too
    from ..queries.base import money_sum

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_event_counts(events: DataFrame) -> DataFrame:
    """Sliding windows (1 hour, every 15 minutes) — each event lands
    in 4 windows."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Built-in session windows per user: a session closes after 30
    minutes of inactivity."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_stream_to_memory(
    agg: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    timeout_s: int = 120,
) -> DataFrame:
    """Drive a (bounded) streaming aggregation to completion with an
    availableNow trigger into a memory sink; returns the final table.
    complete-mode emits every window, so on bounded input the result
    equals the batch aggregation — the oracle-comparison trick."""
    import shutil

    name = f"stream_out_{uuid.uuid4().hex[:10]}"
    ckpt = os.path.join(tempfile.gettempdir(), f"ckpt_{name}")
    # try/finally around EVERYTHING after start (r11 review): the
    # timeout and query-failure paths previously skipped the cleanup
    # this function exists to provide — a test/bench loop hitting
    # repeated failures grew one checkpoint dir plus one
    # driver-pinned memory view per call, the exact unbounded growth
    # the success-path cleanup was written to prevent.
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            # a silently-partial memory table would surface later as
            # a confusing oracle mismatch; fail loudly at the source
            q.stop()
            raise TimeoutError(
                f"streaming query {name!r} did not finish within {timeout_s}s"
            )
        # materialize and release the per-call state: the memory
        # sink's table pins the full result in driver memory for the
        # session's lifetime and each call mints a fresh name +
        # checkpoint dir, so a bench/test loop would grow both
        # without bound. Results here are aggregate-sized by
        # construction (complete-mode windows).
        table = spark.table(name)
        rows, schema = table.collect(), table.schema
        return spark.createDataFrame(rows, schema)
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:  # noqa: BLE001 — view may not exist on failure
            pass
        shutil.rmtree(ckpt, ignore_errors=True)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the documents parquet (no event-time column,
    so no timestamp normalization)."""
    return _read_stream(spark, sf_dir, "documents.parquet")


def streaming_exact_dedup(docs: DataFrame) -> DataFrame:
    """Streaming ingestion dedup: canonical fingerprint + stateful
    ``dropDuplicates`` — Spark keeps the set of seen keys as
    streaming state, so each fingerprint is emitted exactly once
    across all micro-batches (the shape of a training-corpus
    ingestion pipeline that must never admit a duplicate document).

    Emits only the fingerprint: WHICH physical duplicate survives is
    an arrival-order artifact, the fingerprint set itself is
    deterministic. Unbounded state by design here (bounded input);
    a production stream would add ``withWatermark`` +
    ``dropDuplicatesWithinWatermark`` to cap state."""
    from ..functions import text as T

    return docs.select(T.fingerprint(T.TEXT_COL).alias("fp")).dropDuplicates(["fp"])


def stateful_user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count + value
    total via applyInPandasWithState — the escape hatch for stateful
    semantics the built-in windows can't express (reference has no
    streaming surface; this is the engine's extension).

    State carries integer CENTS (the money_sum convention): a double
    accumulator's value would depend on the order rows reach the
    state update (not deterministic under shuffle), while integer
    sums are associative — so the emitted totals are bit-exact
    against a batch/DuckDB oracle at any partitioning. The per-value
    cent rounding is ``functions.aggregates.cents``'s rule, vectorised:
    ``np.rint`` of ``|v|``, plus 1 on an exact .5 remainder, sign
    restored — HALF_UP, equal to the batch twin's ``cents(value,
    100)``. ``np.rint`` alone is banker's half-even and would drift
    one cent on any value whose cents land exactly on .5 (2-dp inputs
    never do; the operator does not rely on that). A non-finite or
    out-of-range cent value raises, as the batch twin's cast does."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, cents bigint"

    def update(key, pdf_iter, state: GroupState):
        import numpy as np

        n, cents_total = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            v = pdf["value"].dropna().to_numpy(dtype=np.float64) * 100
            a = np.abs(v)
            r = np.rint(a)
            r += a - r == 0.5
            # bounds every int64 below, so the sum cannot wrap; also
            # False on NaN/inf
            if not r.sum() < 2.0**62:
                raise OverflowError("cent sum out of BIGINT range")
            cents_total += int(np.copysign(r, v).astype(np.int64).sum())
        state.update((n, cents_total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents_total / 100.0]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _checkpoint_has_offsets(spark: SparkSession, ckpt: str) -> bool:
    """True iff ``ckpt`` holds at least one committed streaming
    offset — the witness that a previous run's batch-id space owns
    the sink's partitions (Hadoop FS, not os.path: checkpoints may
    live on hdfs:// at scale)."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(os.path.join(ckpt, "offsets"))
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(p)) and len(fs.listStatus(p)) > 0


def _checkpoint_committed_ids(spark: SparkSession, ckpt: str) -> set[int]:
    """Batch ids this checkpoint has fully COMMITTED (one integer-
    named file per id under <ckpt>/commits — structured streaming's
    HDFSMetadataLog layout). This is the durable record of which
    ``batch=<id>`` partitions the checkpoint's run owns: written_ids
    is in-memory and dies with a crashed driver, the commit log does
    not — it is what lets a RESUMED run finish a crashed fresh run's
    interrupted swap (r12 ADVICE)."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(os.path.join(ckpt, "commits"))
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return set()
    return {
        int(s.getPath().getName())
        for s in fs.listStatus(p)
        if s.getPath().getName().isdigit()
    }


def _staging_root_for(dest_path: str, checkpoint: str | None, name: str) -> str:
    """Staging dir for a run's pre-commit partials. NAMED checkpoints
    get a DETERMINISTIC name derived from the checkpoint path, so a
    retry with the same checkpoint can find (and finish committing)
    a crashed predecessor's staged batches; anonymous runs get the
    per-call uuid name (no retry can ever resume them). Both carry
    the ``.staging-upsert_`` prefix the fresh-run sweep globs."""
    if checkpoint is None:
        return os.path.join(dest_path, f".staging-{name}")
    import hashlib

    # normalize the one spelling variant a retry plausibly differs
    # by (trailing slash) — a different NAME would miss the pending
    # dir and silently resume in place over the wreckage, which is
    # the exact bug the deterministic name exists to fix (deeper
    # variants are caught by the foreign-staging guard on the
    # resume path)
    tag = hashlib.md5(
        checkpoint.rstrip("/").encode("utf-8")
    ).hexdigest()[:16]
    return os.path.join(dest_path, f".staging-upsert_ck{tag}")


def stream_upsert_daily_totals(
    spark: SparkSession,
    sf_dir: str,
    dest_path: str,
    max_files_per_trigger: int | None = None,
    glob: str = "events.parquet",
    checkpoint: str | None = None,
) -> DataFrame:
    """foreachBatch incremental sink — the lakehouse-style streaming
    MERGE, written the way it survives FAILURE REPLAY: foreachBatch
    delivers batches at-least-once, so an additive read-modify-write
    would double-count a replayed batch. Instead each micro-batch
    OVERWRITES its own ``batch=<id>/`` partition with its (day,
    event_type) partial aggregate — a replay overwrites the same
    path with the same bytes (idempotent), and the final result
    re-aggregates the associative integer partials across batch
    partitions. No driver round-trip, no read-modify-write race;
    the partial write is fully distributed. The final merged table
    is bit-identical to the single-pass batch aggregate at any
    batch boundaries AND under replay (pinned by the restart test in
    tests/test_streaming.py). At scale the per-batch partition write
    becomes a Delta/Iceberg transactional append keyed by batchId —
    identical plumbing, transactional rename instead of overwrite.

    Pass ``checkpoint`` to resume a previous run's offsets (the
    restart-recovery path). Resume-in-place requires the checkpoint
    to actually HOLD committed offsets — a new/empty checkpoint dir
    is a FRESH run regardless of the argument (r11 review: argument
    presence alone granted in-place writes to a run whose batch ids
    restart at 0 over a prior run's partials — the double-count this
    function exists to prevent). By default each call gets a fresh
    checkpoint dir — and a fresh run retires any ``batch=*``
    partitions a PREVIOUS run left under ``dest_path``: batch ids
    are only meaningful relative to one checkpoint's offsets, so
    prior partials the new run's ids did not overwrite would be
    re-aggregated into the final result — silent double counting.
    A fresh run writes ALL its partials into a dot-prefixed staging
    dir (invisible to the ``batch=*`` reader) and swaps them into
    ``dest_path`` only after the stream commits, then retires the
    stale prior-run partials — so a fresh run that fails at ANY
    point mid-stream leaves the prior results byte-for-byte intact
    (r8 ADVICE: the earlier in-place overwrite protected only
    batch ids the failed run never reached; failure atomicity now
    holds up to the post-commit rename window, milliseconds rather
    than the stream runtime). Named checkpoints get a DETERMINISTIC
    staging dir (keyed on the checkpoint path), so a retry on the
    same checkpoint after a crashed fresh run FINISHES the
    interrupted commit instead of resuming in place over it (r12
    ADVICE: the in-place resume stranded the crashed run's staged
    batches — the checkpoint skips their replay as committed — and
    kept stale prior-run partials, under- and double-counting in one
    result): the retry writes its remaining batches into the same
    staging dir, swaps everything staged, and retires every dest
    batch id outside the run's durable ownership record — the
    staging dir's ``_manifest/`` markers ∪ the checkpoint's commit
    log (the manifest exists because the commit log is PURGED past
    spark.sql.streaming.minBatchesToRetain, default 100 — r13,
    closing the r12 ADVICE). Leftover
    staging dirs from failed runs that never committed offsets are
    swept at the next fresh run's start. ``dest_path`` must be
    exclusively owned by this operator, since a concurrent writer's
    partitions would be swept as stale. A resumed run with no
    pending commit keeps writing in place: prior partials are its
    own, and its replayed ids overwrite the same paths with the
    same bytes.
    """
    # Hadoop path resolution glob-interprets load paths, so a
    # dest_path containing glob metacharacters cannot be re-read
    # safely after the write (PATH_NOT_FOUND, or silently reading a
    # SIBLING directory that matches the character class — r6 review,
    # reproduced). Fail fast before any work instead of writing a
    # sink that cannot be read back.
    if any(ch in dest_path for ch in "*?[]{}"):
        raise ValueError(
            f"dest_path {dest_path!r} contains glob metacharacters; "
            "Hadoop path resolution cannot address it unambiguously"
        )
    name = f"upsert_{uuid.uuid4().hex[:10]}"
    # '' is not a checkpoint (r11 review: the falsy path previously
    # split — fresh=False here but a throwaway temp dir below)
    checkpoint = checkpoint or None
    # FRESH means "this checkpoint does not yet own dest's batch-id
    # space", NOT "no checkpoint argument" (r11 review): a caller
    # opting into durability with a NEW checkpoint dir over a dest
    # holding a PRIOR run's partials got resume-in-place semantics —
    # its batch ids restart at 0, overwrite only the partitions they
    # reach, and the surviving stale ids double-count in the final
    # re-aggregation. Only a checkpoint with committed offsets is a
    # genuine resume (its replayed ids own dest's partitions).
    fresh = checkpoint is None or not _checkpoint_has_offsets(
        spark, checkpoint
    )
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path
    # Hadoop FS API, not local-filesystem ops: dest may be hdfs:// or
    # s3a:// at scale (the r6 ADVICE lesson for the empty-sink probe
    # applies to the swap too)
    fs = jpath(dest_path).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    staging_root = _staging_root_for(dest_path, checkpoint, name)
    pending = False
    if fresh:
        # A fresh run must leave dest_path UNTOUCHED until it commits
        # (r8 ADVICE: the previous in-place overwrite meant a fresh
        # run that failed mid-stream left a MIXED dest — new partials
        # for the batch ids it reached, stale prior-run partials for
        # the rest — double-counting across two incompatible runs).
        # So fresh runs write every partial under a dot-prefixed
        # staging dir (invisible to the batch=* reader) and swap into
        # dest only AFTER the stream commits. dest_path must be
        # exclusively owned by this operator — a concurrent writer's
        # partitions would be swept as stale. Leftover staging dirs
        # are failed prior fresh runs' UNCOMMITTED garbage (fresh
        # means this checkpoint owns no offsets, so every staged
        # partial will be replayed from scratch) — safe to sweep
        # before any work.
        for s in fs.globStatus(
            jpath(os.path.join(dest_path, ".staging-upsert_*"))
        ) or []:
            fs.delete(s.getPath(), True)
        write_root = staging_root
    else:
        # A RESUMED run normally writes in place: its checkpoint
        # replays exactly the batch ids it already owns, and a replay
        # overwrites the same path with the same bytes (idempotent).
        # But if THIS checkpoint's deterministic staging dir survives,
        # the predecessor was a fresh run that crashed before
        # finishing its commit (mid-stream, mid-swap, or mid-retire —
        # r12 ADVICE: writing in place here undercounted the stranded
        # staged batches and double-counted stale prior-run partials).
        # Keep writing into the SAME staging dir — replayed ids land
        # beside the crashed run's already-staged partials — and let
        # the post-stream commit below finish the interrupted swap.
        pending = bool(fs.exists(jpath(staging_root)))
        write_root = staging_root if pending else dest_path
        # FOREIGN staging under dest on a resume is wreckage this
        # checkpoint cannot reason about: a DIFFERENT run (another
        # named checkpoint, or an anonymous fresh run) crashed here,
        # and if it died mid-SWAP, dest is already a MIX of that
        # run's batches and ours — resuming in place would return
        # silent garbage. Fail loudly with the remediation (a fresh
        # run rebuilds the single-run truth and sweeps the dot-dirs)
        # instead of guessing; only OUR deterministic staging dir is
        # provably ours to finish.
        ours = os.path.basename(staging_root)
        foreign = [
            s.getPath().getName()
            for s in fs.globStatus(
                jpath(os.path.join(dest_path, ".staging-upsert_*"))
            )
            or []
            if s.getPath().getName() != ours
        ]
        if foreign:
            raise IOError(
                f"streaming upsert resume: foreign staging dir(s) "
                f"{foreign} under {dest_path} — another run crashed "
                "here and dest may hold a partial swap; run FRESH "
                "(new/no checkpoint) to rebuild the single-run truth"
            )

    stream = _read_stream(
        spark,
        sf_dir,
        glob,
        normalize=True,
        max_files_per_trigger=max_files_per_trigger,
    )

    written_ids: set[int] = set()  # foreachBatch runs driver-side
    # Durable ownership manifest (r13, closing the r12 ADVICE
    # medium): the checkpoint's commits/ log is NOT a complete
    # record of owned batch ids — Spark purges HDFSMetadataLog
    # entries beyond spark.sql.streaming.minBatchesToRetain
    # (default 100), so a crashed fresh run with >100 micro-batches
    # would, on retry, find its earliest already-swapped ids absent
    # from the log, not in written_ids, and not in staging — and the
    # retirement loop below would delete them as stale prior-run
    # partials, silently undercounting at exactly the scale this
    # recovery exists for. So every staged batch ALSO drops a
    # zero-cost marker dir ``<staging>/_manifest/<id>`` the moment
    # it is written; the marker survives the swap (only batch=*
    # dirs move) and dies with the staging dir after the retire —
    # making ownership durable independently of log retention.
    # In-place resumes (write_root == dest) never retire, so they
    # need no markers and must not pollute dest.
    manifest_root = os.path.join(write_root, "_manifest")

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        written_ids.add(batch_id)
        if write_root != dest_path:
            fs.mkdirs(jpath(os.path.join(manifest_root, str(batch_id))))
        (
            batch_df.select(
                F.to_date("ts").alias("day"),
                "event_type",
                cents(F.col("value"), 100).alias("cents"),
            )
            .groupBy("day", "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("pn"),
                F.sum("cents").cast("bigint").alias("pc"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(write_root, f"batch={batch_id}"))
        )

    ckpt = checkpoint or os.path.join(tempfile.gettempdir(), f"ckpt_{name}")
    q = (
        stream.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(f"streaming upsert {name!r} did not finish in 120s")
    if fresh or pending:
        # the run is committed — swap staged partials into dest
        # (delete-then-rename per batch id), THEN retire prior-run
        # partials this run did not overwrite (stale batch ids would
        # re-aggregate into the final result as silent double
        # counting). Failure atomicity holds up to this
        # O(#batches)-rename window — milliseconds — instead of the
        # whole stream runtime. Honest crash story for an OVERLAPPING
        # batch id (r11 review corrected an earlier comment that
        # claimed renames-before-deletes): the swap is
        # delete-dst-then-rename-src, so a crash BETWEEN the two
        # leaves dest missing that batch while its replacement sits
        # in the dot-staging dir invisible to the batch=* reader —
        # the documented worst state, pinned by
        # tests/test_streaming.py's swap-window crash tests, and
        # repaired by the next fresh run's sweep OR (r12) a retry on
        # the same named checkpoint, which re-enters this block via
        # ``pending``.
        #
        # The swap set is what is ON DISK under staging — not
        # written_ids, which is in-memory and empty of any batch a
        # crashed predecessor committed (the r12 ADVICE scenario).
        # The OWNED id set for stale retirement is the staging
        # manifest (durable, retention-independent — see its comment
        # above) ∪ the checkpoint's commit log (bounded by
        # minBatchesToRetain, kept as defense in depth) ∪ this
        # process's written_ids ∪ the staged ids being swapped — ids
        # from any of the four are this run's truth; every other
        # batch=* dir under dest is a prior run's stale partial and
        # must go.
        staged = [
            s.getPath()
            for s in fs.globStatus(
                jpath(os.path.join(write_root, "batch=*"))
            )
            or []
        ]
        manifest_ids = {
            int(s.getPath().getName())
            for s in fs.globStatus(
                jpath(os.path.join(manifest_root, "*"))
            )
            or []
            if s.getPath().getName().isdigit()
        }
        owned = (
            manifest_ids
            | _checkpoint_committed_ids(spark, ckpt)
            | written_ids
            | {int(p.getName().split("=", 1)[1]) for p in staged}
        )
        for src in staged:
            dst = jpath(os.path.join(dest_path, src.getName()))
            if fs.exists(dst):
                fs.delete(dst, True)
            # Hadoop rename reports failure by RETURNING false, not
            # raising — unchecked, a failed move would fall through to
            # the staging delete below and lose the run's partials
            # while stale prior batches survive (r9 review). Staging
            # lives UNDER dest_path so same-filesystem rename is the
            # norm; if it ever fails, fail LOUDLY with both paths.
            if not fs.rename(src, dst):
                raise IOError(
                    f"streaming upsert commit: rename {src} -> {dst} "
                    "failed; staged partials left in place for "
                    "inspection (dest may hold a partial swap)"
                )
        for s in fs.globStatus(
            jpath(os.path.join(dest_path, "batch=*"))
        ) or []:
            path = s.getPath()
            if int(path.getName().split("=", 1)[1]) not in owned:
                # delete() also reports failure by returning false; a
                # surviving stale batch re-aggregates into the final
                # result as silent double counting — the one cleanup
                # here that is correctness-relevant, so it must raise
                # (the staging sweeps are benign: dot-dirs are
                # invisible to the batch=* reader)
                if not fs.delete(path, True) and fs.exists(path):
                    raise IOError(
                        f"streaming upsert commit: could not retire "
                        f"stale partial {path}; reading dest now "
                        "would double-count"
                    )
        fs.delete(jpath(write_root), True)
    if checkpoint is None:
        # a fresh (unnamed) checkpoint has no resume value once the
        # run completed; leaving it would leak one dir per call
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    # an empty/globless source commits zero micro-batches, so no
    # batch=* partition exists — return an empty frame with the
    # output schema. The probe is the parquet read itself (catch
    # PATH_NOT_FOUND), NOT a driver-local glob.glob: on hdfs://s3a://
    # dest paths — the at-scale deployment — a local glob always
    # returns [] and would silently report an empty sink even though
    # the stream committed data (r6 ADVICE, medium).
    from pyspark.errors import AnalysisException

    try:
        committed = spark.read.option("basePath", dest_path).parquet(
            os.path.join(dest_path, "batch=*")
        )
    except AnalysisException as e:
        klass = e.getErrorClass() if hasattr(e, "getErrorClass") else None
        if "PATH_NOT_FOUND" not in (klass or str(e)):
            raise
        return spark.createDataFrame(
            [], "day date, event_type string, n_events bigint, total_value double"
        )
    return (
        committed.groupBy("day", "event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            (F.sum("pc") / F.lit(100.0)).alias("total_value"),
        )
    )

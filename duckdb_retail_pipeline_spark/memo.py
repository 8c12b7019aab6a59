"""Session-scoped memoization: datasets, plan row counts and per-call-site
persists.

Three entry points share three private pieces:

- ``_lock(key)``: one per-key lock registry. Same-key callers serialize
  and share one build; different keys proceed concurrently.
- ``_stat(uris)``: one ``(uri, mtime_ns, size)`` file signature. A set of
  per-file entries (not a max mtime) catches deletions and
  mtime-preserving swaps (mv / rsync -a / tar -x); nanoseconds catch a
  same-second in-session regeneration.
- ``_get_or_build(store, key, sig, build)``: one entry per key, served
  while its signature holds and otherwise unpersisted and replaced, so a
  store is bounded by its keys, not by the number of regenerations.

Eviction frees what the entry holds, at once: a cached frame's SQL-cache
entry, and a checkpointed leaf's blocks (``_unpersist``). It frees
nothing an entry only reads: a frame built over another entry's leaf
leaves that leaf's blocks to the other entry's own eviction.

``dataset_memo`` keys on (session, dataset dir, tag) and signs the dir's
parquet files; ``memoized_count`` keys on (session, canonical plan) and
signs the plan's input files. The session is the SparkSession object
itself (``_session_key``), not its applicationId: ``spark.newSession()``
shares the SparkContext and so the applicationId, but has its own SQL
conf, and a frame built in one session runs under that session's conf.
So no entry serves a session other than the one that built it.

The locks are in-process (threading) on purpose. Every key carries the
session identity and every value is a process-local object (a DataFrame,
a cache handle), so two processes never share an entry and there is
nothing for a cross-process lock to protect. The cross-process shared
state is the warehouse directory, whose single-writer contract lives at
``operators/scale.py::write_bucketed``.

Every staleness probe is O(backing files) driver-side stats per call:
milliseconds at thousands of part files. A deployment with hundreds of
thousands of parts would sign with a table-format snapshot id instead
(Delta/Iceberg metadata): same contract, O(1) witness.
"""

from __future__ import annotations

import os
import threading
import warnings
from collections.abc import Callable, Hashable, Iterable
from typing import Any
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

# (session, abspath(sf_dir), tag) -> (dataset signature, value)
_MEMO: dict[tuple[int, str, str], tuple[frozenset, Any]] = {}
# (session, semanticHash) -> (input signature, row count)
_COUNT_MEMO: dict[tuple[int, int], tuple[frozenset, int]] = {}

_LOCKS_GUARD = threading.Lock()
_LOCKS: dict[Hashable, threading.Lock] = {}
_WARNED_REMOTE = False


def _session_key(spark: SparkSession) -> int:
    """The memo's session identity: the object ``rotating_persist`` also
    compares. Every DataFrame value holds its session alive, so the id
    cannot be reused while such an entry lives; any other value is a pure
    function of the signed files, so a reused id serves a correct one."""
    return id(spark)


def _lock(key: Hashable) -> threading.Lock:
    """The lock for ``key``, created on first use. A ``rotating_persist``
    slot is keyed by ``("slot", id(slot))``: the caller keeps the slot alive
    for the whole critical section, so two live slots never share a key,
    and a dead slot's reused id at most shares a lock nobody holds."""
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(key, threading.Lock())


def _stat(uris: Iterable[str]) -> frozenset:
    """``(uri, mtime_ns, size)`` per uri; ``(uri, -1, -1)`` for a file that
    cannot be stat-ed (vanished, or remote). A remote uri is only compared
    by identity, which cannot see a rewrite in place: warned once per
    process."""
    global _WARNED_REMOTE
    sig = []
    for uri in uris:
        path = unquote(urlparse(uri).path) if uri.startswith("file:") else uri
        try:
            st = os.stat(path)
            sig.append((uri, st.st_mtime_ns, st.st_size))
        except OSError:
            sig.append((uri, -1, -1))
            if "://" in path and not _WARNED_REMOTE:
                _WARNED_REMOTE = True
                warnings.warn(
                    "memo: some plan input files are not locally stat-able "
                    "(remote URIs); staleness invalidation degrades to "
                    "uri-identity for those entries",
                    stacklevel=4,
                )
    return frozenset(sig)


def _dir_signature(sf_dir: str) -> frozenset:
    """Signature of the dataset's ``*.parquet`` files. A ``*.parquet``
    DIRECTORY (Spark's partitioned layout) is listed one level down: its
    own mtime tracks entry add/remove only, not a part-file rewrite."""
    paths = []
    try:
        with os.scandir(sf_dir) as it:
            for entry in it:
                if not entry.name.endswith(".parquet"):
                    continue
                if entry.is_dir():
                    with os.scandir(entry.path) as inner:
                        paths.extend(sub.path for sub in inner)
                else:
                    paths.append(entry.path)
    except OSError:
        pass
    return _stat(paths)


def _input_signature(df: DataFrame) -> frozenset | None:
    """Signature of every file backing ``df``'s plan. A file-source
    relation canonicalizes on its root path only, so plan equality alone
    cannot see an in-session regeneration. None when the plan exposes no
    input files (pure-synthetic frames, or a plan over a cached frame)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file plans
        return None
    return _stat(files) if files else None


def _unpersist(value: Any) -> None:
    """Free the storage an evicted entry holds. A frame whose plan IS a
    ``LogicalRDD`` (a checkpointed leaf, as ``build_layer`` serves) holds
    its blocks on that RDD, which ``DataFrame.unpersist()`` does not
    touch; any other frame is dropped from the SQL cache."""
    frames = value.values() if isinstance(value, dict) else [value]
    for f in frames:
        if isinstance(f, DataFrame):
            try:
                plan = f._jdf.queryExecution().logical()
                if plan.getClass().getSimpleName() == "LogicalRDD":
                    plan.rdd().unpersist(False)
                else:
                    f.unpersist()
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass


def _get_or_build(
    store: dict, key: Hashable, sig: frozenset, build: Callable[[], Any]
) -> Any:
    """Serve ``store[key]`` while its signature equals ``sig``; otherwise
    unpersist it and store ``build()`` under ``sig``. A failed build leaves
    no entry."""
    with _lock(key):
        hit = store.get(key)
        if hit is not None:
            if hit[0] == sig:
                return hit[1]
            del store[key]
            _unpersist(hit[1])
        value = build()
        store[key] = (sig, value)
        return value


def rotating_persist(df: DataFrame, slot: list) -> DataFrame:
    """Persist ``df`` with a one-entry rotation per call site. For an
    intermediate that feeds several consumers in one plan (Spark does not
    dedupe common subplans), while SQL-cache entries are never GC-cleaned:
    a bare per-call ``.persist()`` pins one corpus-sized entry per
    invocation. Pass a module-level list as ``slot``; it holds at most one
    ``(occupant, input_signature)`` pair.

    The occupant is returned as is when it belongs to the caller's session
    (a stopped session's cache is gone), its plan is semantically equal to
    ``df``'s, and its input files are unchanged. Otherwise the occupant is
    evicted BEFORE ``df`` is persisted: persisting a canonically equal plan
    registers a no-op, and unpersisting the old one afterwards would drop
    the shared entry.

    The occupant re-stats its OWN stored uris. Once it is cached, a
    semantically equal fresh plan is cache-substituted and its
    ``inputFiles()`` returns [], so a fresh-side listing would never match
    and the slot would re-materialize on every call. An in-session
    regeneration still rotates: a stored file's mtime/size changes or its
    stat fails."""
    with _lock(("slot", id(slot))):
        if slot:
            occupant, occ_sig = slot[0]
            try:
                if (
                    occupant.sparkSession is df.sparkSession
                    and occupant.sameSemantics(df)
                    and (occ_sig is None or occ_sig == _stat(u for u, _, _ in occ_sig))
                ):
                    return occupant
            except Exception:  # noqa: BLE001 — fall through to rotation
                pass
            try:
                slot.pop()[0].unpersist()
            except Exception:  # noqa: BLE001 — occupant's session may be
                pass  # stopped (test teardown); rotation must still work
        sig = _input_signature(df)
        df = df.persist()
        slot.append((df, sig))
        return df


def memoized_count(df: DataFrame) -> int:
    """``df.count()`` memoized per (session, canonical plan), invalidated
    when the plan's input files change. For runtime-statistics probes over
    an already-persisted frame (dedup's auto-mode corpus size), which
    would otherwise re-scan the cached table on every invocation.

    A plan with no input signature is never served: a plan built over a
    cached occupant is cache-substituted, its ``inputFiles()`` is [], and
    two such plans across a regeneration compare equal while computing
    different data. Callers that want the memo pass the persisted occupant
    itself, whose own ``inputFiles()`` still names the backing files."""
    sig = _input_signature(df)
    if sig is None:
        return df.count()
    key = (_session_key(df.sparkSession), df.semanticHash())
    return _get_or_build(_COUNT_MEMO, key, sig, df.count)


def dataset_memo(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    build: Callable[[], Any],
) -> Any:
    """Get-or-build ``build()`` memoized per (session, dataset, tag),
    invalidated when the dataset's parquet files change on disk."""
    path = os.path.abspath(sf_dir)
    key = (_session_key(spark), path, tag)
    return _get_or_build(_MEMO, key, _dir_signature(path), build)

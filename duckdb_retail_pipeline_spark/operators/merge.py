"""MERGE / CDC / SCD2 emulation.

The v1 image has no Delta/Iceberg jars, so MERGE INTO is emulated
with pure DataFrame ops (guide: 'CDC / SCD2 → anti-join + union +
window'): deterministic, shuffle-once-per-key, and expressible in
ANSI SQL for the oracle gate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """MERGE semantics (matched → replace, unmatched → insert):
    target rows without an update survive (anti-join), every update
    row lands. One shuffle on the key."""
    keep = target.join(updates, list(key_cols), "left_anti")
    return keep.unionByName(updates)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Slowly-changing-dimension type 2: append changed rows as new
    versions, close out superseded versions.

    ``dim`` rows carry (key, attrs..., effective_from); ``changes``
    carry (key, attrs..., effective_from). Output adds
    ``effective_to`` (next version's start, NULL for open) and
    ``is_current`` via a lead window per key — the whole history
    remains queryable as-of any date.

    Equal ``effective_from`` ties break deterministically in the
    CHANGE's favor (a same-day correction): the superseded dim row
    gets a zero-length [x, x) interval that ``as_of`` can never
    select, and the change becomes the live version. Ties WITHIN one
    side (two same-day CDC changes for one key) total-order by the
    row's full payload struct (r11 review: the __src tiebreak alone
    left same-side ties arbitrary — which correction ended up
    is_current flipped between runs, one level below the bug the
    dim-vs-change tiebreak fixed). Value-ordered: the greatest
    payload becomes the live version; exact duplicate rows are
    interchangeable, so the order is total where it matters."""
    combined = dim.withColumn("__src", F.lit(0)).unionByName(
        changes.withColumn("__src", F.lit(1))
    )
    payload_struct = F.struct(
        *[c for c in combined.columns if c != "__src"]
    )
    w = Window.partitionBy(*key_cols).orderBy(
        "effective_from", "__src", payload_struct
    )
    return (
        combined.withColumn("effective_to", F.lead("effective_from").over(w))
        .withColumn("is_current", F.col("effective_to").isNull())
        .drop("__src")
    )


def as_of(dim_history: DataFrame, as_of_date) -> DataFrame:
    """Point-in-time view of an SCD2 history."""
    d = F.lit(str(as_of_date)).cast("date")
    return dim_history.filter(
        (F.col("effective_from") <= d)
        & (F.col("effective_to").isNull() | (F.col("effective_to") > d))
    )

"""Join operators.

The reference's dimension equi-joins (SURVEY.md §2.3) are plain
joins in ``pipeline/facts.py``: AQE sizes them at runtime, with no
forced broadcast. ``asof_join`` is the extension operator Spark lacks
natively (the usual workarounds are bucketize or merge_asof); here
it's the union-window formulation — no cross product, no UDF. Every
caller joins one unkeyed time series, so the window is global; at
scale the change to make is partitioning it by series key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _orderable(dt) -> bool:
    """True iff a column of this type can appear in an ORDER BY —
    MapType (at any nesting depth) is the one unorderable family
    Catalyst rejects."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on_time: str,
    right_time: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, attach the most recent right row
    at or before its timestamp (direction='backward'; 'forward' takes
    the next at-or-after).

    Implementation: tag both sides, union them, and forward-fill the
    right side's payload along time with a last-ignore-nulls
    window — no range explosion. This is the same trick
    the reference uses for FX forward-fill, generalized to a join.

    The payload fills as ONE STRUCT, not per column: independent
    per-column fills would skip a NULL field back to an OLDER right
    row and emit a chimera of two right rows (pandas merge_asof /
    DuckDB ASOF JOIN attach the whole most-recent row, NULL fields
    included). NULL-time rows never match: a right row with NULL
    time is excluded, and a left row with NULL time gets NULL
    payload. Right payload names that collide with left columns
    raise (the output would carry ambiguous duplicates; rename
    before joining, as merge_asof's suffixes would). Right rows TIED
    on time resolve deterministically by the payload's
    orderable fields (map-typed fields join fine but are unorderable
    and sit out of the tie-break — see the window comment)."""
    from pyspark.sql import types as T

    rt = right_time or on_time
    payload = [c for c in right.columns if c != rt]
    collisions = sorted(set(payload) & set(left.columns))
    if collisions:
        raise ValueError(
            f"asof_join payload column(s) {collisions} already exist on "
            "the left side; rename one side before joining"
        )

    r_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType, True) for c in payload]
    )
    lhs = left.select(
        F.col(on_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(r_type).alias("__r"),
        F.struct(*[c for c in left.columns]).alias("__row"),
    )
    rhs = right.filter(F.col(rt).isNotNull()).select(
        F.col(rt).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.struct(*[F.col(c) for c in payload]).alias("__r"),
        F.lit(None)
        .cast(lhs.schema["__row"].dataType)
        .alias("__row"),
    )
    unioned = lhs.unionByName(rhs)

    # A payload-valued FINAL sort key makes the order TOTAL over
    # right rows tied on time (r11 review): without it,
    # last()/first() returned whichever tied peer the shuffle
    # happened to order last — a nondeterministic payload across
    # runs. The key is a struct of the ORDERABLE payload fields only
    # (r12 ADVICE: sorting on the full __r struct threw
    # AnalysisException for payloads containing non-orderable types
    # like MapType, which previously joined fine): for all-orderable
    # payloads — every driver query — this is exactly the full
    # payload struct, so backward attaches the GREATEST tied struct
    # (last over ascending), forward the LEAST (first over
    # ascending) — value-ordered, run-stable (pinned:
    # tests/test_operators.py duplicate-right-timestamp test). Rows
    # tied on time AND on every orderable payload field but
    # differing in a map-typed field remain a nondeterministic pick
    # among value-tied peers (documented, not silent: with zero
    # orderable fields there is no value order to impose). Left rows
    # carry a NULL __r — so the unnamed tie struct built from __r's
    # orderable fields below is NULL for them — and are already
    # separated from right rows by __is_left, so the extra key never
    # reorders left-vs-right.
    orderable = [c for c in payload if _orderable(right.schema[c].dataType)]
    tie_keys = (
        [F.struct(*[F.col("__r")[c] for c in orderable]).asc()]
        if orderable
        else []
    )
    if direction == "backward":
        # right rows sort before left rows at equal time → "at or before"
        w = (
            Window.orderBy(
                F.col("__t").asc(), F.col("__is_left").asc(), *tie_keys
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    elif direction == "forward":
        w = (
            Window.orderBy(
                F.col("__t").asc(), F.col("__is_left").desc(), *tie_keys
            )
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
    else:
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    fill = F.last if direction == "backward" else F.first
    filled = unioned.select(
        "*", fill("__r", ignorenulls=True).over(w).alias("__f")
    )
    # __t NULL guard: NULLS FIRST puts a NULL-time left row at the
    # partition head, which is harmless backward (no right rows in
    # its frame) but forward would span every right row — either way
    # an unknown time matches nothing
    out = filled.filter(F.col("__is_left") == 1).select(
        *[F.col("__row")[c].alias(c) for c in left.columns],
        *[
            F.when(F.col("__t").isNotNull(), F.col("__f")[c]).alias(c)
            for c in payload
        ],
    )
    return out


def range_join_bucketed(left: DataFrame, right: DataFrame) -> DataFrame:
    """Range join (left.v BETWEEN right.lo AND right.hi) via bucket
    equi-join + residual filter, avoiding the O(n·m) theta join: each
    right interval is exploded to its overlapping width-4 buckets, then
    an equi-join on bucket id prunes to near-candidates. Shared
    column names raise up front (r11 review, the
    asof_join guard reused): the inner join would otherwise emit
    duplicate-named columns — or make the residual ``v``
    reference ambiguous — with an AnalysisException pointing nowhere
    near the cause."""
    collisions = sorted(set(left.columns) & set(right.columns))
    if collisions:
        raise ValueError(
            f"range_join_bucketed: column(s) {collisions} exist on both "
            "sides; rename one side before joining"
        )
    lb = left.withColumn("__bucket", F.floor(F.col("v") / 4.0))
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / 4.0).cast("long"),
                F.floor(F.col("hi") / 4.0).cast("long"),
            )
        ),
    )
    joined = lb.join(rb, ["__bucket"], "inner").filter(
        (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
    )
    return joined.drop("__bucket")

"""Window-function operators.

The reference's entire window surface is two functions (SURVEY.md
§2.5): LAST_VALUE-ignore-nulls forward fill and LAG gap detection.
Both are global ORDER BY date windows there and here: every caller
runs them over one ~1k-row daily series. A single unpartitioned
window is the one thing that cannot scale, so at scale the change to
make is partitioning by series key (currency, user, …), after which
each partition's window runs independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def forward_fill(df: DataFrame, value_col: str, out_col: str | None = None) -> DataFrame:
    """Carry the last non-NULL ``value_col`` forward along ``date``
    — exact semantic match of the reference's
    ``LAST_VALUE(x IGNORE NULLS) OVER (ORDER BY date ROWS BETWEEN
    UNBOUNDED PRECEDING AND CURRENT ROW)`` (src/models/facts.py:191-194).

    This is a single-partition window (fine for a ~1k-row daily FX
    series; documented cost).
    """
    w = Window.orderBy("date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out_col or value_col, F.last(value_col, ignorenulls=True).over(w))


def gaps(df: DataFrame) -> DataFrame:
    """Rows where the previous ``date`` is more than 1 day back — the
    reference's calendar-continuity check (src/models/dimensions.py:129-138).
    Returns (date, prev_date, gap_days) for each gap."""
    w = Window.orderBy("date")
    return (
        df.select("date")
        .withColumn("prev_date", F.lag("date").over(w))
        .withColumn("gap_days", F.datediff(F.col("date"), F.col("prev_date")))
        .filter(F.col("gap_days") > 1)
    )


def sessionize(df: DataFrame) -> DataFrame:
    """Assign batch session ids over an events frame: a new session
    starts when the gap from ``ts`` to the previous event of the same
    ``user_id`` exceeds 30 minutes. lag + conditional cumsum — the
    standard two-window sessionizer; both windows share the same
    (user_id, ts, event_id) partitioning/ordering so Spark plans a
    single sort+shuffle. The unique ``event_id`` breaks timestamp ties
    (lag needs a total order to be deterministic)."""
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "timestamp_ntz":
        # A naive timestamp has no instant: the epoch cast below
        # interprets it in the session timezone, so a non-UTC session
        # would skew gaps across DST transitions. Callers should
        # normalize event time first (catalog.normalize_event_ts);
        # refuse the silent skew otherwise.
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise ValueError(
                f"sessionize on a TIMESTAMP_NTZ column requires the UTC "
                f"session convention (got session timeZone={tz!r}); "
                "normalize with catalog.normalize_event_ts first"
            )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # Gap = difference of per-timestamp epoch-second FLOORS (NOT full
    # elapsed seconds — timestampdiff would shift session boundaries
    # on sub-second data). Spark's timestamp→long cast floors; the
    # oracle twins must spell FLOOR(epoch(ts)) explicitly because
    # DuckDB's CAST(double AS BIGINT) ROUNDS — a bare epoch() cast
    # diverges on gaps within ~1 s of the boundary (latent on current
    # data, review-caught). The ltz cast is identity for tz-aware
    # input; for NTZ it uses the UTC session enforced above.
    epoch = lambda c: c.cast("timestamp_ltz").cast("long")  # noqa: E731
    gap_s = epoch(F.col("ts")) - epoch(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap_s > 30 * 60), 1).otherwise(0)
    return df.withColumn("__new_session", is_new).withColumn(
        "session_seq", F.sum("__new_session").over(w)
    ).drop("__new_session")

"""Date/time helpers with DuckDB-parity semantics.

The reference's calendar logic is written against DuckDB date parts
(reference src/models/dimensions.py:55-75). Two gotchas documented in
SURVEY.md §2.8 are handled here once, centrally:

- DuckDB ``dayofweek``/``dow`` is 0=Sunday..6=Saturday; Spark's
  ``dayofweek`` is 1=Sunday..7=Saturday. ``duck_dow`` shifts by one.
- DuckDB ``week``/``isoyear`` are ISO-8601; Spark's ``weekofyear`` is
  already ISO, and the ISO week-numbering year is derived from the
  Thursday of the week (ISO weeks belong to the year containing
  their Thursday).

All of these compile to JVM-side Catalyst expressions (no Python in
the row path), so they stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def duck_dow(col: Column | str) -> Column:
    """Day of week, DuckDB numbering: 0=Sunday .. 6=Saturday."""
    return F.dayofweek(_c(col)) - F.lit(1)


def is_weekend(col: Column | str) -> Column:
    """DuckDB-reference weekend flag: dow IN (0, 6) ⇔ Sun or Sat
    (reference src/models/dimensions.py:59)."""
    return F.dayofweek(_c(col)).isin(1, 7)


def iso_week(col: Column | str) -> Column:
    """ISO-8601 week number (DuckDB ``week``/``EXTRACT(week)``)."""
    return F.weekofyear(_c(col))


def iso_year(col: Column | str) -> Column:
    """ISO-8601 week-numbering year (DuckDB ``isoyear``).

    An ISO week belongs to the calendar year containing its Thursday,
    so shift to that Thursday and take its year. ``weekday`` is
    Monday=0..Sunday=6, so Thursday = date + (3 - weekday).
    """
    c = _c(col)
    thursday = F.date_add(c, F.lit(3) - F.weekday(c))
    return F.year(thursday)


def day_name(col: Column | str) -> Column:
    """Full weekday name (DuckDB ``dayname``): 'Monday' ... 'Sunday'."""
    return F.date_format(_c(col), "EEEE")


def month_name(col: Column | str) -> Column:
    """Full month name (DuckDB ``monthname``): 'January' ... 'December'."""
    return F.date_format(_c(col), "MMMM")


def date_spine_over(df: DataFrame, date_col: str, col_name: str = "date") -> DataFrame:
    """Dense daily spine spanning [min(date_col), max(date_col)] of
    ``df``: DuckDB ``unnest(generate_series(lo, hi, INTERVAL '1 day'))``
    as ``sequence`` + ``explode``, computed without a driver
    round-trip: the min/max probe is a single-row aggregate and the
    sequence explodes from it. This is how the reference's
    probe-then-f-string pattern (src/models/facts.py:169-185) becomes
    one declarative plan."""
    bounds = df.agg(
        F.min(F.to_date(date_col)).alias("lo"), F.max(F.to_date(date_col)).alias("hi")
    )
    return bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias(col_name)
    )

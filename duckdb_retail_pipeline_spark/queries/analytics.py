"""Round-5 analytics/pipeline extensions: interval (range) joins,
text retrieval scoring (BM25), event funnels, cohort retention, PII
redaction, skew-proof joins under the oracle gate, one-pass data
profiling, deterministic importance sampling, token-rarity quality
scoring, PMI association mining, last-touch attribution, incremental
view maintenance, and a stream-stream event-time join.

Each query follows the engine conventions (queries/base.py): integer
cents for money, BIGINT casts for integer outputs, DATE casts for
dates, total ordering under LIMIT, dround only for values with no
probability mass at decimal ties.
"""

from __future__ import annotations

# per-module-execution nonce for the registry's paste-vs-reload
# discrimination (queries/base.py register): reload re-executes this
# line and mints a new token; a pasted duplicate registers under the
# same one
_EXEC_TOKEN = object()

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_retail_pipeline_spark.functions import text as T
from duckdb_retail_pipeline_spark.functions.aggregates import cents
from duckdb_retail_pipeline_spark.memo import rotating_persist
from duckdb_retail_pipeline_spark.operators import lm as LM
from duckdb_retail_pipeline_spark.operators import scale as SC
from duckdb_retail_pipeline_spark.operators import similarity as SIM
from duckdb_retail_pipeline_spark.plans.explain import plan_bytes
from duckdb_retail_pipeline_spark.queries.base import (
    dround,
    floor_ratio,
    money_sum,
    plan_memo,
    register,
    sql_dround,
    sql_floor_ratio,
    sql_money_sum,
    tbl,
)
from duckdb_retail_pipeline_spark.queries.extensions import (
    SQL_COSINE_PARTS,
    SQL_FINGERPRINT,
    SQL_HASH28,
    SQL_TOKS,
    _sql_norm,
)

# ---------------------------------------------------------------- x43
_X43_MIN_ERRORS = 3  # hourly error count that flags an incident window


@register(
    "x43_range_join_binned",
    oracle=f"""
        WITH ev AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
            FROM events
        ), iv AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   MIN(ts) AS s, MAX(ts) AS e
            FROM ev GROUP BY 1, 2
        ), win AS (
            SELECT date_trunc('hour', ts) AS w
            FROM ev WHERE event_type = 'error'
            GROUP BY 1 HAVING COUNT(*) >= {_X43_MIN_ERRORS}
        )
        SELECT iv.day,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT iv.user_id) AS BIGINT) AS n_users,
               CAST(SUM(
                   epoch_us(least(iv.e, win.w + INTERVAL 1 HOUR))
                   - epoch_us(greatest(iv.s, win.w))
               ) AS BIGINT) AS total_overlap_us
        FROM iv JOIN win
          ON iv.s < win.w + INTERVAL 1 HOUR AND iv.e >= win.w
        GROUP BY iv.day
    """,
    doc="Interval-overlap (range) join via BINNED equi-join — the "
    "scale path for a join Spark would otherwise plan as "
    "BroadcastNestedLoopJoin: per-user daily activity intervals "
    "[min ts, max ts] against hourly incident windows (hours with "
    ">= 3 error events). Each interval explodes into the hour bins "
    "it spans; each window occupies exactly its own bin, so the "
    "overlap join becomes a hash equi-join on the bin key with no "
    "per-pair predicate scan. Provably identical to the naive "
    "inequality join (a window overlaps [s, e] iff its hour lies in "
    "[hour(s), hour(e)] — that is the SQL oracle). Overlap durations "
    "are exact microsecond integers.",
    tags=("events", "range-join", "join"),
)
def x43_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tbl(spark, sf_dir, "events")
    iv = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    win = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _X43_MIN_ERRORS)
        .select("w")
    )
    binned = iv.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s"),
                F.date_trunc("hour", "e"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    w_end = F.col("w") + F.expr("INTERVAL 1 HOUR")
    joined = binned.join(win, F.col("bin") == F.col("w")).filter(
        (F.col("s") < w_end) & (F.col("e") >= F.col("w"))  # defensive; always true
    )
    overlap_us = F.unix_micros(F.least(F.col("e"), w_end)) - F.unix_micros(
        F.greatest(F.col("s"), F.col("w"))
    )
    return joined.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum(overlap_us).cast("bigint").alias("total_overlap_us"),
    )


# ---------------------------------------------------------------- x44
_X44_TERMS = ("join", "vector", "slow")
# one-slot rotating cache for x44's tokenized per-doc frame (feeds
# the stats aggregate AND the scored scan — unpersisted, the regex
# tokenization ran twice per action)
_X44_TF_SLOT: list = []
_X44_K1 = 1.2
_X44_B = 0.75


def _x44_ctes() -> str:
    """The d/t/stats/scored CTE chain — scored(doc_id, bm25, tf_*,
    dl) over the hit set — shared by the x44 oracle and x88's
    lexical ranked list so the two cannot silently diverge."""
    toks = SQL_TOKS.format(x="text")
    tf = {t: f"len(list_filter(toks, t -> t = '{t}'))" for t in _X44_TERMS}
    idf = {
        t: f"ln(1.0 + (CAST(n_docs AS DOUBLE) - df_{t} + 0.5) / (df_{t} + 0.5))"
        for t in _X44_TERMS
    }
    # avgdl denominators NULLIF-guarded: an empty corpus must yield
    # NULL in both engines, never an ANSI divide-by-zero in one
    avgdl = "(CAST(sum_dl AS DOUBLE) / NULLIF(CAST(n_docs AS DOUBLE), 0.0))"
    contrib = {
        t: (
            f"({idf[t]}) * (tf_{t} * {_X44_K1 + 1.0}) / "
            f"(tf_{t} + {_X44_K1} * (1.0 - {_X44_B} + {_X44_B} * "
            f"(CAST(dl AS DOUBLE) / NULLIF({avgdl}, 0.0))))"
        )
        for t in _X44_TERMS
    }
    score = " + ".join(f"({contrib[t]})" for t in _X44_TERMS)
    return f"""d AS (
            SELECT doc_id, {toks} AS toks FROM documents
        ), t AS (
            SELECT doc_id, len(toks) AS dl,
                   {", ".join(f"{tf[t]} AS tf_{t}" for t in _X44_TERMS)}
            FROM d
        ), stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS sum_dl,
                   {", ".join(f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}" for t in _X44_TERMS)}
            FROM t
        ), scored AS (
            SELECT doc_id,
                   {sql_dround(score, 4)} AS bm25,
                   {", ".join(f"tf_{t}" for t in _X44_TERMS)},
                   dl
            FROM t, stats
            WHERE {" + ".join(f"tf_{t}" for t in _X44_TERMS)} > 0
        )"""


def _x44_oracle() -> str:
    return f"""
        WITH {_x44_ctes()}
        SELECT doc_id, bm25,
               {", ".join(f"CAST(tf_{t} AS BIGINT) AS tf_{t}" for t in _X44_TERMS)},
               CAST(dl AS BIGINT) AS dl
        FROM scored
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT 20
    """


@register(
    "x44_bm25_search",
    oracle=_x44_oracle(),
    doc="BM25 keyword retrieval (Robertson/Sparck Jones; the "
    "Okapi/Lucene formula with the +1 idf floor) over the documents "
    "corpus for a fixed query term set: per-doc term frequencies via "
    "JVM array filters, corpus stats (N, total length, per-term "
    "document frequency) as ONE single-row aggregate broadcast back "
    "onto the corpus — no per-term shuffle, no UDF, scales as one "
    "scan + one 1-row cross join. Per-term contributions are summed "
    "in fixed literal order so the double result is bit-identical "
    "across engines; score compared after dround(4) (no probability "
    "mass at decimal ties for BM25 scores). Top-20 total-ordered by "
    "(rounded score, doc_id).",
    headline=True,
    tags=("text", "search", "ranking"),
)
@plan_memo("x44")
def x44_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _x44_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


def _x44_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25 dround(4), tf_* bigint, dl bigint) over the hit
    set — the Spark twin of the ``scored`` CTE in ``_x44_ctes``;
    x44's top-20 and x88's lexical ranked list both consume it."""
    docs = tbl(spark, sf_dir, "documents")

    def tf_expr(term: str):
        return F.size(F.filter(F.col("toks"), lambda t: t == F.lit(term)))

    t = docs.select(
        "doc_id",
        T.tokens("text").alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[tf_expr(term).alias(f"tf_{term}") for term in _X44_TERMS],
    )
    # t feeds the corpus-stats aggregate AND the scored scan; it is
    # a narrow integer frame (doc_id, dl, 3 tfs), so persist it
    # rather than re-run the regex tokenization per consumer
    t = rotating_persist(t, _X44_TF_SLOT)
    stats = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{term}") > 0).cast("int"))
            .cast("bigint")
            .alias(f"df_{term}")
            for term in _X44_TERMS
        ],
    )
    j = t.crossJoin(F.broadcast(stats))

    def contrib(term: str):
        tf = F.col(f"tf_{term}").cast("double")
        df = F.col(f"df_{term}").cast("double")
        n = F.col("n_docs").cast("double")
        # guarded like the oracle: empty corpus → NULL, not ANSI error
        avgdl = F.col("sum_dl").cast("double") / F.nullif(n, F.lit(0.0))
        idf = F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))
        return (idf * (tf * F.lit(_X44_K1 + 1.0))) / (
            tf
            + F.lit(_X44_K1)
            * (
                F.lit(1.0 - _X44_B)
                + F.lit(_X44_B)
                * (F.col("dl").cast("double") / F.nullif(avgdl, F.lit(0.0)))
            )
        )

    score = contrib(_X44_TERMS[0])
    for term in _X44_TERMS[1:]:
        score = score + contrib(term)
    hit = sum(
        (F.col(f"tf_{term}") for term in _X44_TERMS[1:]),
        F.col(f"tf_{_X44_TERMS[0]}"),
    )
    return j.filter(hit > 0).select(
        "doc_id",
        dround(score, 4).alias("bm25"),
        *[F.col(f"tf_{term}").cast("bigint").alias(f"tf_{term}") for term in _X44_TERMS],
        F.col("dl").cast("bigint").alias("dl"),
    )


# ---------------------------------------------------------------- x45
@register(
    "x45_event_funnel",
    oracle="""
        WITH ev AS (
            SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
            FROM events
        ), s1 AS (
            SELECT user_id, MIN(ts) AS t1 FROM ev
            WHERE event_type = 'view' GROUP BY 1
        ), s2 AS (
            SELECT ev.user_id, MIN(ev.ts) AS t2
            FROM ev JOIN s1 ON ev.user_id = s1.user_id
            WHERE ev.event_type = 'click'
              AND ev.ts > s1.t1 AND ev.ts <= s1.t1 + INTERVAL 1 HOUR
            GROUP BY 1
        ), s3 AS (
            SELECT ev.user_id, MIN(ev.ts) AS t3
            FROM ev JOIN s2 ON ev.user_id = s2.user_id
            WHERE ev.event_type = 'purchase'
              AND ev.ts > s2.t2 AND ev.ts <= s2.t2 + INTERVAL 1 HOUR
            GROUP BY 1
        )
        SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM ev) AS n_users,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_view,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click_1h,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase_1h
    """,
    doc="Three-step event funnel (view -> click within 1h -> "
    "purchase within 1h of the click), the classic product-analytics "
    "operator: each step is a per-user MIN-timestamp aggregation "
    "joined forward into the next step's filter — three narrow "
    "shuffles on user_id, no window over event history, no "
    "per-user event-list materialization (the shape that OOMs on "
    "power users at 100 TB). Timestamps are exact microseconds; all "
    "outputs integer.",
    tags=("events", "funnel"),
)
def x45_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tbl(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    hour = F.expr("INTERVAL 1 HOUR")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + hour))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + hour))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c0 = ev.agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    c1 = s1.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
    c2 = s2.agg(F.count(F.lit(1)).cast("bigint").alias("n_click_1h"))
    c3 = s3.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchase_1h"))
    return c0.crossJoin(c1).crossJoin(c2).crossJoin(c3)


# ---------------------------------------------------------------- x46
@register(
    "x46_cohort_retention",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
            FROM events
        ), first AS (
            SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1
        )
        SELECT f.cohort_day,
               CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users,
               CAST(COUNT(DISTINCT CASE WHEN d.day = f.cohort_day + 1
                    THEN f.user_id END) AS BIGINT) AS n_day1,
               CAST(COUNT(DISTINCT CASE WHEN d.day = f.cohort_day + 7
                    THEN f.user_id END) AS BIGINT) AS n_day7
        FROM first f JOIN days d ON f.user_id = d.user_id
        GROUP BY 1
    """,
    doc="Cohort retention: users grouped by first-active day, with "
    "day-1 and day-7 return counts — the standard growth-analytics "
    "matrix. The cohort day attaches via MIN() OVER (PARTITION BY "
    "user) on the distinct (user, day) frame instead of a "
    "self-join — one less exchange and no join at all; the window "
    "partition is bounded by per-user distinct activity days. "
    "Conditional COUNT DISTINCT per offset; outputs DATE/BIGINT "
    "exact.",
    tags=("events", "cohort"),
)
def x46_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    days = (
        tbl(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    j = days.withColumn(
        "cohort_day", F.min("day").over(Window.partitionBy("user_id"))
    )
    return j.groupBy("cohort_day").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.count_distinct(
            F.when(F.col("day") == F.date_add(F.col("cohort_day"), 1), F.col("user_id"))
        )
        .cast("bigint")
        .alias("n_day1"),
        F.count_distinct(
            F.when(F.col("day") == F.date_add(F.col("cohort_day"), 7), F.col("user_id"))
        )
        .cast("bigint")
        .alias("n_day7"),
    )


# ---------------------------------------------------------------- x47
_X47_EMAIL_RE = "[a-z0-9]+@[a-z.]+"
_X47_PHONE_RE = "555-[0-9]{4}"


@register(
    "x47_pii_redaction",
    oracle=f"""
        WITH aug AS (
            SELECT doc_id,
                   text || ' reach user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example or call 555-'
                        || CAST(1000 + doc_id % 9000 AS VARCHAR) AS t
            FROM documents
        ), red AS (
            SELECT doc_id, t,
                   regexp_replace(
                       regexp_replace(t, '{_X47_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{_X47_PHONE_RE}', '<PHONE>', 'g') AS redacted
            FROM aug
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_X47_EMAIL_RE}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{_X47_PHONE_RE}')) AS BIGINT) AS n_phones,
               CAST(length(redacted) AS BIGINT) AS red_len,
               md5(redacted) AS red_md5
        FROM red
    """,
    doc="PII scrubbing for training-data curation: detect and "
    "redact email/phone patterns (documents are augmented with "
    "synthetic PII derived from doc_id, since the corpus has none — "
    "pure column arithmetic, so both engines build the identical "
    "input). Counting via regexp_count and redaction via chained "
    "regexp_replace, all JVM-side; the regexes stay in the common "
    "Java-regex/RE2 subset so both engines match identically. The "
    "md5 of the redacted text pins the exact output string — a "
    "missed or over-eager redaction fails the hash. One scan, no "
    "shuffle, trivially row-parallel at any scale.",
    tags=("text", "pii", "curation"),
)
def x47_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
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
    )
    return red.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_X47_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_X47_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.length("redacted").cast("bigint").alias("red_len"),
        F.md5(F.col("redacted").cast("binary")).alias("red_md5"),
    )


# ---------------------------------------------------------------- x48
@register(
    "x48_salted_join",
    oracle=f"""
        SELECT p.p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               {sql_money_sum('l.l_extendedprice')} AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1
    """,
    doc="Skew-proof equi-join under the oracle gate: lineitem joined "
    "to part through operators/scale.py salted_join (hot keys spread "
    "over 8 salt sub-keys, right side replicated 8x) — the "
    "deterministic fallback when one key dominates and the right "
    "side is broadcast-resistant. The salt routes rows but never "
    "changes the join RESULT, so the plain-join SQL oracle pins "
    "row-level equality; the post-join aggregate uses integer cents "
    "so the hash is exact under any salt assignment or partition "
    "order. Complements x35 (salted aggregation) by gating the join "
    "variant.",
    tags=("join", "skew", "scale"),
)
def x48_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), "l_extendedprice"
    )
    pt = tbl(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    joined = SC.salted_join(li, pt, on="partkey")
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        money_sum(F.col("l_extendedprice")).alias("revenue"),
    )


# ---------------------------------------------------------------- x49
_X49_EPOCH = "1970-01-01"


def _x49_profile_sql(col: str, min_i: str, max_i: str) -> str:
    return f"""
        SELECT '{col}' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
               CAST({min_i} AS BIGINT) AS min_i,
               CAST({max_i} AS BIGINT) AS max_i
        FROM orders
    """


@register(
    "x49_data_profiling",
    oracle=" UNION ALL ".join(
        [
            _x49_profile_sql("o_orderkey", "MIN(o_orderkey)", "MAX(o_orderkey)"),
            _x49_profile_sql("o_custkey", "MIN(o_custkey)", "MAX(o_custkey)"),
            _x49_profile_sql(
                "o_totalprice",
                "MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))",
                "MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))",
            ),
            _x49_profile_sql(
                "o_orderdate",
                f"MIN(CAST(o_orderdate AS DATE) - DATE '{_X49_EPOCH}')",
                f"MAX(CAST(o_orderdate AS DATE) - DATE '{_X49_EPOCH}')",
            ),
            _x49_profile_sql(
                "o_orderstatus", "MIN(length(o_orderstatus))", "MAX(length(o_orderstatus))"
            ),
        ]
    ),
    doc="One-pass data-quality profiling of a table (the ingest "
    "sanity report every pipeline needs): per-column row/null/"
    "distinct counts plus min/max, ALL encoded as exact BIGINTs "
    "(money as cents, dates as epoch days, strings by length) so no "
    "engine-specific double/str formatting enters the hash. Spark "
    "computes every metric in a SINGLE aggregate pass then unpivots "
    "with stack() — one scan regardless of column count (the "
    "oracle's UNION ALL per column is the naive 5-scan equivalent). "
    "Exact COUNT(DISTINCT) per column costs one Expand; at 100 TB "
    "swap to approx_count_distinct and drop the oracle's exactness "
    "(documented trade).",
    tags=("profiling", "quality"),
)
def x49_data_profiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    price_cents = cents(F.col("o_totalprice"), 100)
    days = F.datediff(F.to_date("o_orderdate"), F.lit(_X49_EPOCH))
    slen = F.length("o_orderstatus")
    specs = [
        ("o_orderkey", F.col("o_orderkey"), F.col("o_orderkey")),
        ("o_custkey", F.col("o_custkey"), F.col("o_custkey")),
        ("o_totalprice", price_cents, F.col("o_totalprice")),
        ("o_orderdate", days, F.col("o_orderdate")),
        ("o_orderstatus", slen, F.col("o_orderstatus")),
    ]
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for name, enc, raw in specs:
        aggs += [
            F.sum(raw.isNull().cast("bigint")).cast("bigint").alias(f"nn_{name}"),
            F.count_distinct(raw).cast("bigint").alias(f"nd_{name}"),
            F.min(enc).cast("bigint").alias(f"mn_{name}"),
            F.max(enc).cast("bigint").alias(f"mx_{name}"),
        ]
    one = o.agg(*aggs)
    stack_args = []
    for name, _, _ in specs:
        stack_args += [
            f"'{name}'",
            "n_rows",
            f"nn_{name}",
            f"nd_{name}",
            f"mn_{name}",
            f"mx_{name}",
        ]
    return one.selectExpr(
        f"stack({len(specs)}, {', '.join(stack_args)}) AS "
        "(col_name, n_rows, n_null, n_distinct, min_i, max_i)"
    )


# ---------------------------------------------------------------- x50
_X50_PPM = 1_000_000


@register(
    "x50_importance_sampling",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, source, text,
                   {SQL_TOKS.format(x="text")} AS toks
            FROM documents
        ), w AS (
            SELECT doc_id, source,
                   least({_X50_PPM},
                         (len(list_distinct(toks)) * {_X50_PPM})
                         // NULLIF(len(toks), 0)) AS w_ppm,
                   {SQL_HASH28.format(s="text")} % {_X50_PPM} AS u_ppm
            FROM d
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN u_ppm < w_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN u_ppm < w_ppm THEN w_ppm ELSE 0 END) AS BIGINT) AS kept_weight_ppm,
               {sql_floor_ratio("SUM(CASE WHEN u_ppm < w_ppm THEN 1 ELSE 0 END)", "COUNT(*)", 4)} AS keep_rate
        FROM w GROUP BY source
    """,
    doc="Importance sampling for data mixing (the DoReMi/quality-"
    "weighted resampling shape): each document draws a DETERMINISTIC "
    "md5-derived uniform in [0, 1e6) and is kept iff it falls under "
    "the document's importance weight (here: type-token lexical "
    "diversity, scaled to integer ppm via floor division). "
    "Everything is integer arithmetic, so the kept SET — not just "
    "its size — is reproducible across engines, runs, and "
    "partitionings, which is what makes sampled corpora auditable. "
    "One scan + one narrow groupBy(source); no RNG state, no "
    "driver coordination at any scale.",
    tags=("sampling", "curation"),
)
def x50_importance_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    toks = T.tokens("text")
    d = docs.select(
        "doc_id",
        "source",
        F.least(
            F.lit(_X50_PPM),
            F.call_function(
                "div",
                F.size(F.array_distinct(toks)).cast("bigint") * _X50_PPM,
                F.nullif(F.size(toks).cast("bigint"), F.lit(0)),
            ),
        ).alias("w_ppm"),
        (T.md5_int28("text") % _X50_PPM).alias("u_ppm"),
    )
    kept = F.when(F.col("u_ppm") < F.col("w_ppm"), 1).otherwise(0)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("u_ppm") < F.col("w_ppm"), F.col("w_ppm")).otherwise(0))
        .cast("bigint")
        .alias("kept_weight_ppm"),
        floor_ratio(F.sum(kept), F.count(F.lit(1)), 4).alias("keep_rate"),
    )


# ---------------------------------------------------------------- x52
@register(
    "x52_token_rarity",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {SQL_TOKS.format(x="text")} AS toks FROM documents
        ), tok AS (
            SELECT doc_id, unnest(toks) AS t FROM d
        ), tc AS (
            SELECT t, CAST(COUNT(*) AS BIGINT) AS tf_corpus FROM tok GROUP BY t
        )
        SELECT tok.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(tc.tf_corpus) AS BIGINT) AS sum_freq,
               {sql_floor_ratio("SUM(tc.tf_corpus)", "COUNT(*)", 2)} AS mean_freq
        FROM tok JOIN tc USING (t)
        GROUP BY tok.doc_id
    """,
    doc="Token-rarity scoring (a deterministic stand-in for unigram "
    "LM perplexity as a quality signal): per document, the mean "
    "corpus frequency of its tokens — docs full of rare tokens score "
    "low and flag as noise/OCR garbage, docs of common words score "
    "high. All-integer (corpus term counts summed per doc, "
    "floor-ratio mean) so no transcendental or float-fold "
    "nondeterminism. Shape: explode -> vocabulary-bounded groupBy -> "
    "equi-join back -> per-doc re-agg; two narrow shuffles, the "
    "standard inverted-frequency pipeline at any corpus size.",
    tags=("text", "quality"),
)
def x52_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("t"))
    tc = tok.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("tf_corpus"))
    return (
        tok.join(tc, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("tf_corpus").cast("bigint").alias("sum_freq"),
            floor_ratio(F.sum("tf_corpus"), F.count(F.lit(1)), 2).alias("mean_freq"),
        )
    )


# ---------------------------------------------------------------- x54
_X54_MIN_SUPPORT = 10
_X54_SCALE = 10_000
_X54_TOPK = 30


@register(
    "x54_pmi_pairs",
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   list_distinct({SQL_TOKS.format(x="text")}) AS toks
            FROM documents
        ), t AS (
            SELECT doc_id, unnest(toks) AS tok FROM d
        ), n AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d
        ), tc AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_t FROM t GROUP BY tok
        ), pairs AS (
            SELECT a.tok AS tok_a, b.tok AS tok_b,
                   CAST(COUNT(*) AS BIGINT) AS c_ab
            FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY 1, 2
        )
        SELECT p.tok_a, p.tok_b, p.c_ab,
               CAST((p.c_ab * n.n_docs * {_X54_SCALE})
                    // (ca.c_t * cb.c_t) AS BIGINT) AS pmi_scaled
        FROM pairs p
        JOIN tc ca ON p.tok_a = ca.tok
        JOIN tc cb ON p.tok_b = cb.tok
        CROSS JOIN n
        WHERE p.c_ab >= {_X54_MIN_SUPPORT}
        ORDER BY pmi_scaled DESC, tok_a ASC, tok_b ASC
        LIMIT {_X54_TOPK}
    """,
    doc="Word-pair association mining: top co-occurring token pairs "
    "by pointwise mutual information. PMI = ln(N*c_ab/(c_a*c_b)) is "
    "monotone in the rational N*c_ab/(c_a*c_b), so ranking uses the "
    "INTEGER floor-scaled ratio — no ln, no float ordering, ties "
    "total-ordered by the pair itself. Shape: per-doc distinct "
    "tokens, doc-keyed self-join for pair counts (bounded by "
    "per-doc distinct-token count squared — cap the token list per "
    "doc at real scale), vocabulary-bounded count joins, "
    "TakeOrdered top-k. int64 headroom: c_ab*N*10^4 needs "
    "N*N*10^4 < 2^63, fine to ~10^9 docs; beyond that drop the "
    "scale factor or rank on (c_ab*N) DIV-per-magnitude.",
    tags=("text", "association"),
)
def x54_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.array_distinct(T.tokens("text")).alias("toks"))
    t = d.select("doc_id", F.explode("toks").alias("tok"))
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    tc = t.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("c_t"))
    a = t.select("doc_id", F.col("tok").alias("tok_a"))
    b = t.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= _X54_MIN_SUPPORT)
    )
    scored = (
        pairs.join(tc.withColumnRenamed("tok", "tok_a").withColumnRenamed("c_t", "c_a"), "tok_a")
        .join(tc.withColumnRenamed("tok", "tok_b").withColumnRenamed("c_t", "c_b"), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            F.call_function(
                "div",
                F.col("c_ab") * F.col("n_docs") * _X54_SCALE,
                F.col("c_a") * F.col("c_b"),
            )
            .cast("bigint")
            .alias("pmi_scaled"),
        )
    )
    return scored.orderBy(
        F.col("pmi_scaled").desc(), F.col("tok_a").asc(), F.col("tok_b").asc()
    ).limit(_X54_TOPK)


# ---------------------------------------------------------------- x55
@register(
    "x55_last_touch_attribution",
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id, event_type, value,
                   CAST(ts AS TIMESTAMP) AS ts
            FROM events
        ), marked AS (
            SELECT *,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN ts END IGNORE NULLS)
                       OVER w AS touch_ts,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN event_type END IGNORE NULLS)
                       OVER w AS touch_type
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT COALESCE(CASE WHEN touch_ts >= ts - INTERVAL 1 HOUR
                             THEN touch_type END, 'none') AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS DOUBLE)
                   AS attributed_value
        FROM marked
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    doc="Last-touch marketing attribution: every purchase credits "
    "the most recent click/view by the same user within 1 hour "
    "(else 'none') — the classic as-of/forward-fill shape, computed "
    "with one user-partitioned window (LAST ... IGNORE NULLS over "
    "(ts, event_id) — the unique event_id makes same-microsecond "
    "ordering total, so the credited touch is deterministic). "
    "Per-user window partitions are bounded by per-user event "
    "counts; revenue aggregates in integer cents.",
    tags=("events", "attribution", "window"),
)
def x55_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    is_touch = F.col("event_type").isin("click", "view")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.select(
        "*",
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w).alias("touch_ts"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
    )
    hour = F.expr("INTERVAL 1 HOUR")
    channel = F.coalesce(
        F.when(F.col("touch_ts") >= F.col("ts") - hour, F.col("touch_type")),
        F.lit("none"),
    )
    return (
        marked.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            money_sum(F.col("value")).alias("attributed_value"),
        )
    )


# ---------------------------------------------------------------- x57
_X57_CUTOFF = "2024-01-16"


@register(
    "x57_incremental_agg",
    oracle=f"""
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_money_sum("value")} AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Incremental view maintenance: the daily aggregate is "
    "computed as BASE (events before a cutoff) and DELTA (events "
    "after), each pre-aggregated independently, then merged by "
    "re-aggregating the partials — the nightly-batch-plus-late-data "
    "pattern that avoids reprocessing the full history on every "
    "load. Partial counts and integer-cent sums are associative, so "
    "the merged result is BIT-IDENTICAL to the full single-pass "
    "aggregate (which is the SQL oracle) at any split point or "
    "partitioning. At scale the base partials persist as a "
    "partitioned table and only the delta is recomputed.",
    tags=("events", "incremental", "agg"),
)
def x57_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tbl(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        "event_type",
        cents(F.col("value"), 100).alias("cents"),
    )
    cutoff = F.lit(_X57_CUTOFF).cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("pn"),
            F.sum("cents").cast("bigint").alias("pc"),
        )

    base = partial(ev.filter(F.col("day") < cutoff))
    delta = partial(ev.filter(F.col("day") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            (F.sum("pc") / F.lit(100.0)).alias("total_value"),
        )
    )


# ---------------------------------------------------------------- x58
@register(
    "x58_stream_stream_join",
    oracle="""
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               CAST(ROUND(p.value * 100, 0) AS BIGINT) AS purchase_cents
        FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
              FROM events WHERE event_type = 'click') c
        JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
              FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        """,
    doc="Stream-stream inner join with event-time range condition: "
    "clicks joined to purchases by the same user within the "
    "following hour, both sides genuine readStream sources with "
    "1-hour watermarks (the watermark bounds join STATE — each "
    "side's buffer drops rows older than the watermark minus the "
    "range; emission of inner matches is not watermark-gated, so on "
    "bounded input the append-mode result set equals the batch "
    "join, which is the SQL oracle). Money emitted as integer "
    "cents. This is the streaming twin of the sessionize/attribution "
    "family: at scale both sides come from Kafka and the state "
    "store holds one hour of per-user history.",
    tags=("streaming", "join", "events"),
)
def x58_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.streaming import events as SE

    clicks = (
        SE.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        SE.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    hour = F.expr("INTERVAL 1 HOUR")
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + hour),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        cents(F.col("value"), 100).alias("purchase_cents"),
    )
    return SE.run_stream_to_memory(joined, spark, output_mode="append")


# ---------------------------------------------------------------- x59
@register(
    "x59_media_resize_grid",
    # DuckDB re-derives the pooled grid per byte (x20's hex-pair
    # trick): cell of byte j (0-based) = (j*grid) // n_bytes, exactly
    # the Spark-side numpy mapping; cell means use the floor_ratio
    # idiom (count ratios tie).
    oracle="""
        WITH m AS (
            SELECT doc_id AS media_id, hex(encode(text)) AS h,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        ), idx AS (
            SELECT media_id, n_bytes, h,
                   UNNEST(generate_series(1, CAST(n_bytes AS INTEGER))) AS i
            FROM m WHERE n_bytes > 0
        ), bytes AS (
            SELECT media_id, n_bytes,
                   ((i - 1) * 8) // n_bytes AS cell_idx,
                   (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
                   + strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1 AS bv
            FROM idx
        )
        SELECT media_id,
               CAST(cell_idx AS BIGINT) AS cell_idx,
               CAST(COUNT(*) AS BIGINT) AS n_cell_bytes,
               CAST(SUM(bv) AS BIGINT) AS cell_sum,
               CAST((SUM(bv) * 10000) // COUNT(*) AS DOUBLE) / 10000.0 AS cell_mean
        FROM bytes GROUP BY media_id, cell_idx
    """,
    doc="Media resize plumbing (the third multimodal stage next to "
    "decode/x20 and frame-sample): every blob's byte stream pools "
    "into 8 equal-width cells via Arrow-batched mapInPandas — the "
    "exact integer cell mapping of a nearest-neighbor 1-D "
    "downsample; a real image resize swaps the pooling kernel "
    "inside the same batch loop (PIL path stubbed as "
    "NotImplementedError, operators/multimodal.py resize_image). "
    "Value-hashed against a DuckDB per-byte re-derivation; cell "
    "means through the integer-floor convention. Row-parallel, no "
    "shuffle, no driver involvement at any scale.",
    tags=("multimodal", "pandas-udf"),
)
def x59_media_resize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.operators import multimodal as M

    media = M.documents_as_media(tbl(spark, sf_dir, "documents"))
    return M.resize_byte_grid(media)


# ---------------------------------------------------------------- x60
@register(
    "x60_streaming_upsert_sink",
    oracle=f"""
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_money_sum("value")} AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Streaming MERGE sink: a real readStream drives foreachBatch "
    "micro-batches whose (day, event_type) integer-cent partials "
    "merge ADDITIVELY into a parquet running table (streaming/"
    "events.py stream_upsert_daily_totals) — the lakehouse "
    "incremental-ingest pattern (Delta/Iceberg MERGE INTO at "
    "scale). Because partials are associative integers the final "
    "table is bit-identical to the full batch aggregate — the SQL "
    "oracle — regardless of micro-batch boundaries (the multi-batch "
    "case is pinned in tests/test_streaming.py with "
    "maxFilesPerTrigger=1).",
    tags=("streaming", "incremental", "sink"),
)
def x60_streaming_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from duckdb_retail_pipeline_spark.streaming import events as SE

    dest = f"{tempfile.gettempdir()}/upsert_sink_{uuid.uuid4().hex[:10]}"
    return SE.stream_upsert_daily_totals(spark, sf_dir, dest)


# ---------------------------------------------------------------- x61
_SQL_BPE_PATTERN = T.BPE_ISH_PATTERN.replace("'", "''")


@register(
    "x61_bpe_token_stats",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '{_SQL_BPE_PATTERN}'))
                       AS n_bpe,
                   len({SQL_TOKS.format(x="text")}) AS n_ws
            FROM documents
        )
        SELECT doc_id,
               CAST(n_bpe AS BIGINT) AS n_bpe,
               CAST(n_ws AS BIGINT) AS n_ws,
               {sql_floor_ratio("n_bpe", "n_ws", 4)} AS bpe_per_word
        FROM t
    """,
    doc="Token counting under BOTH tokenizers the brief names: "
    "whitespace words and a BPE-style pre-tokenizer "
    "(functions/text.py BPE_ISH_PATTERN — the GPT-2 pre-tokenizer "
    "regex restricted to the Java-regex/RE2 common subset, no "
    "lookahead), so corpora can be budgeted in billed-token terms "
    "rather than words. The tokens-per-word ratio goes through the "
    "integer-floor convention (count ratios tie). One scan, "
    "row-parallel.",
    tags=("text", "tokenizer"),
)
def x61_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    n_bpe = F.size(T.bpe_ish_tokens("text"))
    n_ws = F.size(T.tokens("text"))
    return docs.select(
        "doc_id",
        n_bpe.cast("bigint").alias("n_bpe"),
        n_ws.cast("bigint").alias("n_ws"),
        floor_ratio(n_bpe, n_ws, 4).alias("bpe_per_word"),
    )


# ---------------------------------------------------------------- x62
@register(
    "x62_seasonal_anomaly",
    # |day - mean| > mean/2 decided by integer cross-multiplication:
    # |day_cents*n_days - sum_cents| * 2 > sum_cents — no division,
    # no float, no tie hazard.
    oracle="""
        WITH d AS (
            SELECT event_type,
                   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                       AS day_cents
            FROM events GROUP BY 1, 2
        ), k AS (
            SELECT *, (day - DATE '1970-01-01') % 7 AS dow FROM d
        ), base AS (
            SELECT event_type, dow,
                   CAST(SUM(day_cents) AS BIGINT) AS sum_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_days
            FROM k GROUP BY 1, 2
        )
        SELECT k.event_type, k.day,
               CAST(k.day_cents / 100.0 AS DOUBLE) AS day_value,
               abs(k.day_cents * b.n_days - b.sum_cents) * 2 > b.sum_cents
                   AS is_anomaly
        FROM k JOIN base b
          ON k.event_type = b.event_type AND k.dow = b.dow
    """,
    doc="Seasonal anomaly screening (pipeline data-quality monitor): "
    "per (event_type, day) revenue compared against its "
    "day-of-week seasonal mean; a day is anomalous when it deviates "
    "more than 50% from the baseline. The comparison is pure "
    "integer cross-multiplication (|day*n - sum| * 2 > sum), so the "
    "flag has no float or tie hazard. DOW = epoch-day mod 7 — "
    "engine-neutral, no locale/week-start semantics. One fact "
    "shuffle on (type, day); the ~35-row baseline broadcasts back.",
    tags=("events", "anomaly", "quality"),
)
def x62_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            cents(F.col("value"), 100).alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("day_cents"))
        .withColumn(
            "dow", F.datediff(F.col("day"), F.lit("1970-01-01")) % 7
        )
    )
    base = d.groupBy("event_type", "dow").agg(
        F.sum("day_cents").cast("bigint").alias("sum_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    return d.join(F.broadcast(base), ["event_type", "dow"]).select(
        "event_type",
        "day",
        (F.col("day_cents") / F.lit(100.0)).alias("day_value"),
        (
            F.abs(F.col("day_cents") * F.col("n_days") - F.col("sum_cents")) * 2
            > F.col("sum_cents")
        ).alias("is_anomaly"),
    )


# ---------------------------------------------------------------- x63
@register(
    "x63_cross_source_dups",
    oracle=f"""
        WITH aug AS (
            SELECT doc_id, source, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, 'mirror', text
            FROM documents WHERE doc_id % 10 = 0
        ), fp AS (
            SELECT doc_id, source,
                   {SQL_FINGERPRINT} AS fingerprint
            FROM aug
        )
        SELECT fingerprint,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc,
               CAST(MAX(doc_id) AS BIGINT) AS last_doc
        FROM fp
        GROUP BY fingerprint
        HAVING COUNT(DISTINCT source) >= 2
    """,
    doc="Cross-source contamination report: canonical fingerprints "
    "appearing under two or more sources (the corpus has no natural "
    "cross-source dups, so every 10th doc is mirrored under a "
    "synthetic source — pure column arithmetic, identical in both "
    "engines). The real-world use: detecting the same article "
    "scraped via multiple feeds before mixture weights are "
    "computed. One fingerprint groupBy, vocabulary-bounded.",
    tags=("dedup", "curation"),
)
def x63_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "source", "text").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.lit("mirror").alias("source"),
            "text",
        )
    )
    fp = aug.select("doc_id", "source", T.fingerprint("text").alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .filter(F.col("n_sources") >= 2)
    )


# ---------------------------------------------------------------- x64
_X64_VOCAB_K = 20


@register(
    "x64_vocab_oov",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {SQL_TOKS.format(x="text")} AS toks FROM documents
        ), tok AS (
            SELECT doc_id, unnest(toks) AS t FROM d
        ), vocab AS (
            SELECT t FROM (
                SELECT t, COUNT(*) AS c FROM tok GROUP BY t
                ORDER BY c DESC, t ASC LIMIT {_X64_VOCAB_K}
            )
        )
        SELECT tok.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               {sql_floor_ratio("SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)", "COUNT(*)", 4)}
                   AS oov_rate
        FROM tok LEFT JOIN vocab v ON tok.t = v.t
        GROUP BY tok.doc_id
    """,
    doc="Vocabulary coverage / out-of-vocabulary screening: the "
    "corpus's top-K tokens (total-ordered by count then token — "
    "deterministic under ties) form the vocabulary; each document "
    "reports its OOV token count and integer-floor OOV rate — the "
    "standard check that a tokenizer/vocab fits a corpus before "
    "training. Vocabulary is a broadcast-sized frame at any corpus "
    "scale (K rows); one explode shuffle for counts, one broadcast "
    "left join back.",
    tags=("text", "tokenizer", "quality"),
)
def x64_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("t").asc())
        .limit(_X64_VOCAB_K)
        .select("t", F.lit(1).alias("__in_vocab"))
    )
    oov = F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
            floor_ratio(F.sum(oov), F.count(F.lit(1)), 4).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------- x65
_X65_DIM = 8
_X65_QUERY = "fast hash join"
_X65_TOPK = 5


def _x65_query_vec() -> list[float]:
    """Driver-side twin of the in-plan embedder: md5-derived floats
    in [-1, 1) per (text, dim) — deterministic, SQL-expressible, the
    stand-in for a real embedding model (which would run OUTSIDE the
    engine; the retrieval plumbing is identical either way)."""
    import hashlib

    return [
        int(hashlib.md5(f"{_X65_QUERY}:{d}".encode()).hexdigest()[:7], 16)
        / 2.0**27
        - 1.0
        for d in range(_X65_DIM)
    ]


def _x65_oracle() -> str:
    from duckdb_retail_pipeline_spark.queries.extensions import (
        SQL_COSINE_PARTS,
        _sql_norm,
    )

    emb = (
        "["
        + ", ".join(
            f"('0x' || substr(md5(chunk || ':{d}'), 1, 7))::BIGINT / 134217728.0 - 1.0"
            for d in range(_X65_DIM)
        )
        + "]"
    )
    qv = "[" + ", ".join(repr(v) for v in _x65_query_vec()) + "]"
    cosine = sql_dround(
        SQL_COSINE_PARTS.format(a="c.emb", b=f"{qv}")
        + f" / NULLIF({_sql_norm('c.emb')} * {_sql_norm(qv)}, 0.0)",
        4,
    )
    return rf"""
        WITH t AS (
            SELECT doc_id, {SQL_TOKS.format(x='text')} AS toks FROM documents
        ), s AS (
            SELECT doc_id, toks,
                   UNNEST([s for s in generate_series(
                       0, GREATEST(len(toks) - 33, 0), 96)]) AS chunk_start
            FROM t
        ), chunks AS (
            SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
                   array_to_string(toks[chunk_start + 1 : chunk_start + 128], ' ')
                       AS chunk
            FROM s
        ), c AS (
            SELECT doc_id, chunk_start, {emb} AS emb FROM chunks
        )
        SELECT doc_id, chunk_start, {cosine} AS cosine
        FROM c
        ORDER BY cosine DESC, doc_id ASC, chunk_start ASC
        LIMIT {_X65_TOPK}
    """


@register(
    "x65_rag_pipeline",
    oracle=_x65_oracle(),
    doc="End-to-end RAG retrieval pipeline in one plan: documents "
    "chunk into 128-token windows (the x27 operator), every chunk "
    "embeds via a deterministic md5-derived embedder (8 dims in "
    "[-1,1) — the SQL-reproducible stand-in for a real model, which "
    "would run as a Pandas UDF with identical downstream plumbing), "
    "the query string embeds the same way driver-side, and the "
    "exact cosine top-5 chunks return with total ordering. "
    "Composes chunking -> embedding -> scoring -> rank without "
    "materializing any intermediate; the index-backed variant of "
    "the scoring stage is x42. Every stage is JVM column "
    "arithmetic; one scan of documents, TakeOrdered top-k.",
    tags=("text", "similarity", "rag"),
)
def x65_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.functions import vectors as V

    docs = tbl(spark, sf_dir, "documents")
    chunks = (
        docs.select("doc_id", T.tokens("text").alias("toks"))
        .withColumn("chunk_start", F.explode(T.chunk_starts("toks", 128, 32)))
        .select(
            "doc_id",
            F.col("chunk_start").cast("bigint").alias("chunk_start"),
            T.chunk_text(F.col("chunk_start")).alias("chunk"),
        )
    )
    emb = F.array(
        *[
            T.md5_int28(F.concat(F.col("chunk"), F.lit(f":{d}"))).cast("double")
            / F.lit(134217728.0)
            - F.lit(1.0)
            for d in range(_X65_DIM)
        ]
    )
    qv = F.array(*[F.lit(v) for v in _x65_query_vec()])
    scored = chunks.select(
        "doc_id",
        "chunk_start",
        F.round(V.cosine_similarity(emb, qv), 4).alias("cosine"),
    )
    return scored.orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc(), F.col("chunk_start").asc()
    ).limit(_X65_TOPK)


# ---------------------------------------------------------------- x66
_X66_MIN_SUPPORT = 2
_X66_TOPK = 25
# opt-in deterministic basket cap (r10 verdict #4 adjudication, see
# the docstring's cap paragraph): None = exact Apriori counts (the
# registered, oracle-gated semantics); an int caps each basket to
# that many parts by xxhash64 rank before pairing
_X66_MAX_BASKET: int | None = None
# NOTE (r6): persisting the distinct (order, part) frame was tried
# and REVERTED — its four consumers all sit behind the distinct's
# exchange, which Spark already dedupes via ReusedExchange, so the
# cache only added materialization overhead (warm 1.7 s → 2.4 s at
# sf0.1). rotating_persist pays off only when the duplicated work
# is PRE-exchange (x44's regex scan) or not exchange-shaped at all
# (x42's broadcast-join + window chain).

# segment width of the salted pair enumeration (r14, guide §2.5):
# a basket of m items splits into ceil(m/2048) hash segments, so no
# single sort-merge join task computes more than ~2048*m pair
# comparisons. Measured on the Zipf corpora (tools/zipf_baskets.py,
# forced-SMJ = the beyond-broadcast shape): w=2048 beat w=512 and
# w=4096 at both 10x- and 100x-class skew (zipf100: 49-53 s vs
# 130-170 plain, 69 s at w=4096).
_X66_SEG_WIDTH = 2048


def _x66_pair_supports(items: DataFrame) -> DataFrame:
    """Exact per-pair basket supports with a deliberate, measured
    join-strategy dispatch (guide §3.1 pick the strategy, §2.5 salt
    hot keys; r13 verdict #2 — the skew levers exercised on Zipf
    corpora where one basket owns ~60% of all pair work):

    - While the (order, part) side fits the broadcast threshold,
      the straight self-join IS the skew-proof plan: Spark
      broadcasts one side and the probe side stays partitioned by
      (l_orderkey, l_partkey) from the distinct, so a mega-basket's
      rows are already spread across tasks. Salting here only adds
      exchanges — measured 2-6x SLOWER (zipf100 broadcast: plain
      22-27 s, salted 57-162 s).
    - Beyond the threshold the join becomes a sort-merge keyed on
      l_orderkey alone: one mega-basket = one un-splittable key
      (AQE's skew-join splits partitions, never single keys), and
      one task computes ~m^2/2 pairs. The salted form gives every
      item a segment pmod(xxhash64(part), ceil(bsz/W)) and
      replicates the right side once per segment: a pair (x, y)
      with part_x < part_y matches exactly once (at x's segment),
      per-task work is bounded by ~W*m, and small baskets have ONE
      segment so they degenerate to the plain join with no
      replication. Measured at forced-SMJ: zipf10 23-25 -> 11.5-15.6
      s, zipf100 130-170 -> 49-53 s, full-result checksums EQUAL on
      sf0.1 + both Zipf corpora (tools/x66_skew_ab.py).

    The dispatch mirrors Spark's own broadcast decision: the items
    plan's estimated size (the same statistic Catalyst sizes the
    join side with) against the session's resolved
    autoBroadcastJoinThreshold. An unsizeable plan (plan_bytes
    returns None and warns once) keeps the plain form, the pre-r14
    plan and never a bench-scale regression; both private surfaces
    are pinned by test_spread_size_probe_internal_api_present."""
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    thr = (
        items.sparkSession._jsparkSession.sessionState()
        .conf()
        .autoBroadcastJoinThreshold()
    )
    if thr < 0 or (plan_bytes(items) or 0) > thr:
        segs = items.groupBy("l_orderkey").agg(
            F.ceil(F.count(F.lit(1)) / F.lit(_X66_SEG_WIDTH))
            .cast("int")
            .alias("__nseg")
        )
        it = items.join(segs, "l_orderkey")
        a = it.select(
            "l_orderkey",
            F.col("l_partkey").alias("part_a"),
            F.pmod(F.xxhash64("l_partkey"), F.col("__nseg"))
            .cast("int")
            .alias("__seg"),
        )
        b = it.select(
            "l_orderkey",
            F.col("l_partkey").alias("part_b"),
            F.explode(F.sequence(F.lit(0), F.col("__nseg") - 1)).alias("__seg"),
        )
        joined = a.join(b, ["l_orderkey", "__seg"])
    else:
        joined = a.join(b, "l_orderkey")
    return (
        joined.filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= _X66_MIN_SUPPORT)
    )


@register(
    "x66_basket_pairs",
    oracle=f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), n AS (
            SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM items
        ), ic AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c_i
            FROM items GROUP BY 1
        ), pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS support
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= {_X66_MIN_SUPPORT}
        )
        SELECT p.part_a, p.part_b, p.support,
               CAST((p.support * 10000) // ca.c_i AS BIGINT) AS confidence_scaled,
               CAST((p.support * n.n_orders * 10000) // (ca.c_i * cb.c_i) AS BIGINT)
                   AS lift_scaled
        FROM pairs p
        JOIN ic ca ON p.part_a = ca.l_partkey
        JOIN ic cb ON p.part_b = cb.l_partkey
        CROSS JOIN n
        ORDER BY lift_scaled DESC, part_a ASC, part_b ASC
        LIMIT {_X66_TOPK}
    """,
    doc="Market-basket analysis (Apriori 2-itemsets): part pairs "
    "co-purchased in the same order, with support, confidence and "
    "lift — ranked on INTEGER floor-scaled ratios (the x54 idiom: "
    "lift ordering is monotone in support*N/(c_a*c_b), so no float "
    "enters the ranking and ties total-order on the pair). Shape: "
    "distinct (order, part) -> order-keyed self-join for pair "
    "counts (bounded by per-basket item count squared — the classic "
    "Apriori candidate bound), item-count joins, TakeOrdered. "
    "Apriori min-support ITEM prefilter (drop parts with c_i < "
    "min_support before pairing) was measured r6 and NOT adopted: "
    "on this corpus every part passes (20000/20000 at sf0.1 — "
    "uniform synthetic popularity), warm medians within noise at "
    "sf0.1 (1.93 vs 1.96 s) and sf1_grow (5.45 vs 4.79 s); re-visit "
    "on skewed real data where the filter actually prunes. "
    "int64 headroom: support*N*10^4 stays in range to ~10^9 "
    "baskets; shard the scale factor beyond that. "
    "Basket cap (r10 verdict #4 adjudication): unlike x92, where "
    "the quadratic frame is an INTERMEDIATE, here the pair supports "
    "ARE the output — so a cap is an output-semantics change and "
    "ships OPT-IN (_X66_MAX_BASKET, default None = exact). When "
    "set, each basket larger than the cap is down-sampled "
    "deterministically to cap parts by xxhash64(partkey) rank "
    "(partkey tie-break) before pairing — the copurchase_edges "
    "idiom. Bias argument: a pair inside an uncapped basket keeps "
    "its full support; a pair whose occurrences all sit in capped "
    "baskets has each occurrence kept with probability "
    "~(cap/m)((cap-1)/(m-1)) for basket size m — support is biased "
    "DOWNWARD for mega-basket pairs, never upward, and hash-rank "
    "selection is item-uniform, so no systematic part bias. That "
    "is the standard market-basket treatment: a 10^5-item "
    "transaction contributes ~10^10 near-zero-signal pairs "
    "(lift ≈ support·N/(c_a·c_b) with both c's huge), and capping "
    "it changes the top-k by lift only if a true top pair occurs "
    "ONLY inside mega-baskets — degenerate on any real corpus. "
    "min-support HAVING cannot be pushed below the pair groupBy "
    "(supports aren't known until counted), so the cap is the one "
    "lever that bounds the per-key quadratic; measured max basket "
    "on this corpus is 17, so the registered uncapped semantics "
    "and any cap ≥ 17 coincide here. Pair enumeration (r14) "
    "dispatches by the broadcast threshold: broadcastable corpora "
    "keep the straight self-join (probe side is (order, part)-"
    "partitioned — mega-baskets already spread), beyond it the "
    "adaptive salted form splits each basket into ceil(m/2048) "
    "hash segments so no sort-merge task owns a whole mega-basket "
    "(exact counts either way — see _x66_pair_supports).",
    headline=True,
    tags=("retail", "association", "join"),
)
def x66_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    if _X66_MAX_BASKET is not None:
        from duckdb_retail_pipeline_spark.operators.graph import cap_per_group

        items = cap_per_group(
            items, "l_orderkey", "l_partkey", _X66_MAX_BASKET
        )
    n = items.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    ic = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_i")
    )
    pairs = _x66_pair_supports(items)
    scored = (
        pairs.join(
            ic.withColumnRenamed("l_partkey", "part_a").withColumnRenamed("c_i", "c_a"),
            "part_a",
        )
        .join(
            ic.withColumnRenamed("l_partkey", "part_b").withColumnRenamed("c_i", "c_b"),
            "part_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "support",
            F.call_function("div", F.col("support") * 10000, F.col("c_a"))
            .cast("bigint")
            .alias("confidence_scaled"),
            F.call_function(
                "div",
                F.col("support") * F.col("n_orders") * 10000,
                F.col("c_a") * F.col("c_b"),
            )
            .cast("bigint")
            .alias("lift_scaled"),
        )
    )
    return scored.orderBy(
        F.col("lift_scaled").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(_X66_TOPK)


# ---------------------------------------------------------------- x67
@register(
    "x67_rfm_segments",
    oracle=f"""
        WITH mx AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS max_day FROM orders
        ), cust AS (
            SELECT o_custkey,
                   (mx.max_day - MAX(CAST(o_orderdate AS DATE))) AS recency_days,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                       AS monetary_cents
            FROM orders CROSS JOIN mx
            GROUP BY o_custkey, mx.max_day
        ), scored AS (
            SELECT o_custkey, monetary_cents,
                   NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_q,
                   NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_q,
                   NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS m_q
            FROM cust
        )
        SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
               CAST(m_q AS BIGINT) AS m_q,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               {sql_money_sum("monetary_cents / 100.0")} AS total_monetary
        FROM scored
        GROUP BY 1, 2, 3
    """,
    doc="RFM customer segmentation (recency / frequency / monetary "
    "quintiles — the classic retail marketing matrix): per-customer "
    "aggregates from orders, then NTILE(5) per dimension with a "
    "custkey tie-break so quintile assignment is total-ordered and "
    "engine-identical. The NTILE windows are global-sort over the "
    "CUSTOMER aggregate (|customers| rows, orders of magnitude "
    "smaller than the fact table); at extreme scale swap the exact "
    "quintiles for approx-percentile cutpoints and lose the exact "
    "oracle (documented trade, same as x49's COUNT DISTINCT note). "
    "Money stays integer cents into the final division.",
    tags=("retail", "segmentation", "window"),
)
def x67_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = tbl(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        cents(F.col("o_totalprice"), 100).alias("cents"),
    )
    mx = orders.agg(F.max("day").alias("max_day"))
    cust = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "max_day")
        .agg(
            F.max("day").alias("last_day"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum("cents").cast("bigint").alias("monetary_cents"),
        )
        .select(
            "o_custkey",
            F.datediff(F.col("max_day"), F.col("last_day")).alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    scored = cust.select(
        "o_custkey",
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc()))
        .cast("bigint")
        .alias("r_q"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc()))
        .cast("bigint")
        .alias("f_q"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary_cents").desc(), F.col("o_custkey").asc()))
        .cast("bigint")
        .alias("m_q"),
    )
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        money_sum(F.col("monetary_cents") / F.lit(100.0)).alias("total_monetary"),
    )


# ---------------------------------------------------------------- x68
@register(
    "x68_supplier_latency",
    # Quantiles restricted to dyadic fractions (0.5, 0.75) over
    # integer day counts — interpolation is frac*(hi-lo) with frac
    # in {0, .25, .5, .75} and hi-lo integer, so the lerp is EXACT
    # in both engines (the a15 convention); 0.95 would put a
    # non-dyadic factor into the lerp.
    oracle="""
        WITH lat AS (
            SELECT l.l_suppkey,
                   (CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE))
                       AS days
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT l_suppkey,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(quantile_cont(days, 0.5) AS DOUBLE) AS p50_days,
               CAST(quantile_cont(days, 0.75) AS DOUBLE) AS p75_days,
               CAST(MAX(days) AS BIGINT) AS max_days,
               CAST((SUM(CASE WHEN days > 30 THEN 1 ELSE 0 END) * 10000)
                    // COUNT(*) AS DOUBLE) / 10000.0 AS late_frac
        FROM lat GROUP BY l_suppkey
    """,
    doc="Supplier fulfillment-latency profile: ship-minus-order days "
    "per line item (orders joined to lineitem on the order key — a "
    "genuine fact-to-fact shuffle join), per-supplier median and "
    "upper-quartile latency via exact interpolated percentiles over "
    "INTEGER days with dyadic-only quantile fractions (the a15 "
    "exactness convention — a 0.95 quantile would put a non-dyadic "
    "factor into the lerp), plus the >30-day late share through the "
    "integer-floor ratio. The supplier-side operational twin of the "
    "customer-side RFM view (x67).",
    headline=True,
    tags=("retail", "percentile", "join"),
)
@plan_memo("x68")
def x68_supplier_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.to_date("l_shipdate").alias("ship")
    )
    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("ordered")
    )
    lat = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_suppkey", F.datediff("ship", "ordered").alias("days")
    )
    late = F.when(F.col("days") > 30, 1).otherwise(0)
    # ONE percentile buffer for both fractions (array form): two
    # scalar percentile() calls build two identical per-group
    # count-map buffers and merge both through the shuffle — the
    # array form halves the aggregation-buffer work (r9; values
    # identical, same exact-interpolation algorithm)
    return (
        lat.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.percentile(
                F.col("days"), F.array(F.lit(0.5), F.lit(0.75))
            ).alias("pcts"),
            F.max("days").cast("bigint").alias("max_days"),
            floor_ratio(F.sum(late), F.count(F.lit(1)), 4).alias("late_frac"),
        )
        .select(
            "l_suppkey",
            "n_items",
            F.col("pcts")[0].alias("p50_days"),
            F.col("pcts")[1].alias("p75_days"),
            "max_days",
            "late_frac",
        )
    )


# ---------------------------------------------------------------- x69
@register(
    "x69_deletion_audit",
    oracle="""
        WITH del AS (
            SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
        ), marked AS (
            SELECT e.event_type, e.user_id,
                   CAST(ROUND(e.value * 100, 0) AS BIGINT) AS cents,
                   (d.user_id IS NOT NULL) AS is_del
            FROM events e LEFT JOIN del d ON e.user_id = d.user_id
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_before,
               CAST(SUM(CASE WHEN is_del THEN 0 ELSE 1 END) AS BIGINT) AS n_after,
               CAST(SUM(CASE WHEN is_del THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
               CAST(SUM(CASE WHEN is_del THEN cents ELSE 0 END) / 100.0 AS DOUBLE)
                   AS value_deleted,
               CAST(COUNT(DISTINCT CASE WHEN is_del THEN user_id END) AS BIGINT)
                   AS n_users_deleted,
               TRUE AS no_residue
        FROM marked
        GROUP BY event_type
    """,
    doc="Right-to-be-forgotten deletion audit (the governance "
    "operator every user-data pipeline needs): a deterministic "
    "deletion set (user_id % 97 = 0 stands in for the request "
    "table) anti-joins out of events, and the audit reports rows / "
    "money / distinct users removed per event type plus an in-plan "
    "no-residue boolean — the cleaned frame is RE-CHECKED for any "
    "surviving deleted user, so a broken anti-join flips the bit "
    "and fails the driver hash. One broadcast-able deletion set, "
    "one scan, integer cents.",
    tags=("events", "governance"),
)
def x69_deletion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tbl(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        cents(F.col("value"), 100).alias("cents"),
    )
    del_users = ev.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    clean = ev.join(del_users, "user_id", "left_anti")
    residue = clean.join(F.broadcast(del_users), "user_id", "inner")
    no_residue = residue.agg(
        (F.count(F.lit(1)) == 0).alias("no_residue")
    )
    marked = ev.join(
        F.broadcast(del_users.withColumn("__d", F.lit(1))), "user_id", "left"
    )
    is_del = F.col("__d").isNotNull()
    return (
        marked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_before"),
            F.sum(F.when(is_del, 0).otherwise(1)).cast("bigint").alias("n_after"),
            F.sum(F.when(is_del, 1).otherwise(0)).cast("bigint").alias("n_deleted"),
            (F.sum(F.when(is_del, F.col("cents")).otherwise(0)) / F.lit(100.0)).alias(
                "value_deleted"
            ),
            F.count_distinct(F.when(is_del, F.col("user_id")))
            .cast("bigint")
            .alias("n_users_deleted"),
        )
        .crossJoin(F.broadcast(no_residue))
    )


# ---------------------------------------------------------------- x70
@register(
    "x70_late_data_audit",
    oracle="""
        WITH seq AS (
            SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                   MAX(CAST(ts AS TIMESTAMP)) OVER (
                       ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS high_wm
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN ts < high_wm - INTERVAL 10 MINUTE
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_late_10m,
               CAST(MAX(epoch_us(high_wm) - epoch_us(ts)) AS BIGINT)
                   AS max_lateness_us
        FROM seq
        GROUP BY event_type
    """,
    doc="Late-data watermark audit: replaying events in arrival "
    "order (event_id is generation order in this corpus), how many "
    "would a 10-minute watermark drop, and how late is the worst "
    "straggler — the report that justifies a watermark setting "
    "before a streaming job ships (x17's 10-minute delay). The "
    "running high-watermark is a global arrival-ordered window: "
    "inherently sequential semantics (a watermark IS global state), "
    "audited per source partition at real scale. Microsecond "
    "integers end-to-end.",
    tags=("events", "streaming", "audit"),
)
def x70_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = ev.withColumn("high_wm", F.max("ts").over(w))
    lateness = F.unix_micros(F.col("high_wm")) - F.unix_micros(F.col("ts"))
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            F.when(
                F.col("ts") < F.col("high_wm") - F.expr("INTERVAL 10 MINUTES"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_late_10m"),
        F.max(lateness).cast("bigint").alias("max_lateness_us"),
    )


# ---------------------------------------------------------------- x71
@register(
    "x71_fuzzy_entity_match",
    oracle="""
        WITH clean AS (
            SELECT c_custkey, c_name, right(c_name, 4) AS blk FROM customer
        ), dirty AS (
            SELECT c_custkey + 10000000 AS dirty_key,
                   c_custkey AS true_key,
                   substr(c_name, 1, 11) || substr(c_name, 13) AS dirty_name,
                   right(c_name, 4) AS blk
            FROM customer WHERE c_custkey % 20 = 0
        ), cand AS (
            SELECT d.dirty_key, d.true_key, c.c_custkey,
                   levenshtein(d.dirty_name, c.c_name) AS dist
            FROM dirty d JOIN clean c ON d.blk = c.blk
            WHERE levenshtein(d.dirty_name, c.c_name) <= 2
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY dirty_key ORDER BY dist ASC, c_custkey ASC
            ) AS rnk,
            COUNT(*) OVER (PARTITION BY dirty_key) AS n_candidates
            FROM cand
        )
        SELECT dirty_key, c_custkey AS matched_key,
               CAST(dist AS BIGINT) AS distance,
               CAST(n_candidates AS BIGINT) AS n_candidates,
               (c_custkey = true_key) AS is_true_match
        FROM ranked WHERE rnk = 1
    """,
    doc="Fuzzy entity resolution with blocking: every 20th customer "
    "name is corrupted by a one-character deletion (pure string "
    "arithmetic — both engines build the identical dirty registry), "
    "then matched back against the clean registry via suffix "
    "blocking (the corrupted region never touches the last 4 chars, "
    "so the block key is mutation-invariant) + Levenshtein <= 2 "
    "inside each block — edit distance is exact-integer and "
    "engine-identical. Best match per dirty record is total-ordered "
    "by (distance, key); the is_true_match flag exposes ambiguous "
    "collisions honestly. Candidate cost = block size, not corpus "
    "size — the standard blocking contract (production uses several "
    "redundant block keys to cover edits anywhere in the string).",
    tags=("entity-resolution", "text", "join"),
)
def x71_fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = tbl(spark, sf_dir, "customer")
    clean = cust.select(
        "c_custkey", "c_name", F.substring("c_name", -4, 4).alias("blk")
    )
    dirty = cust.filter(F.col("c_custkey") % 20 == 0).select(
        (F.col("c_custkey") + 10000000).alias("dirty_key"),
        F.col("c_custkey").alias("true_key"),
        F.concat(
            F.substring("c_name", 1, 11), F.expr("substring(c_name, 13, 100)")
        ).alias("dirty_name"),
        F.substring("c_name", -4, 4).alias("blk"),
    )
    dist = F.levenshtein(F.col("dirty_name"), F.col("c_name"))
    cand = (
        dirty.join(clean, "blk")
        .withColumn("dist", dist)
        .filter(F.col("dist") <= 2)
    )
    w = Window.partitionBy("dirty_key").orderBy(
        F.col("dist").asc(), F.col("c_custkey").asc()
    )
    wc = Window.partitionBy("dirty_key")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .withColumn("n_candidates", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("rnk") == 1)
        .select(
            "dirty_key",
            F.col("c_custkey").alias("matched_key"),
            F.col("dist").cast("bigint").alias("distance"),
            "n_candidates",
            (F.col("c_custkey") == F.col("true_key")).alias("is_true_match"),
        )
    )


# ---------------------------------------------------------------- x72
@register(
    "x72_ab_test",
    # z is one deterministic double expression from exact integers
    # (counts); sqrt is correctly-rounded IEEE, and dround(4) has no
    # tie mass for z-scores — same determinism class as cosines.
    oracle="""
        WITH u AS (
            SELECT user_id,
                   user_id % 2 AS arm,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                             > SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        THEN 1 ELSE 0 END AS converted
            FROM events GROUP BY user_id
        ), agg AS (
            SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c_a,
                   CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c_b
            FROM u
        )
        SELECT n_a, n_b, c_a, c_b,
               CAST((c_a * 10000) // NULLIF(n_a, 0) AS DOUBLE) / 10000.0 AS rate_a,
               CAST((c_b * 10000) // NULLIF(n_b, 0) AS DOUBLE) / 10000.0 AS rate_b,
               CAST(CAST(
                   (CAST(c_a AS DOUBLE) / NULLIF(n_a, 0)
                    - CAST(c_b AS DOUBLE) / NULLIF(n_b, 0))
                   / NULLIF(sqrt(
                       (CAST(c_a + c_b AS DOUBLE) / NULLIF(n_a + n_b, 0))
                       * (1.0 - CAST(c_a + c_b AS DOUBLE) / NULLIF(n_a + n_b, 0))
                       * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))
                   ), 0.0) AS DECIMAL(28,4)) AS DOUBLE) AS z_score
        FROM agg
    """,
    doc="A/B test analysis (two-proportion pooled z-test): users "
    "split into arms by id parity, conversion = more purchases than "
    "views (an interior ~47% rate at every SF — 'any purchase' "
    "saturates to 1.0 over a month and zeroes the standard error); "
    "the z statistic is ONE deterministic double expression over "
    "exact integer counts (pooled rate, standard error, sqrt — "
    "correctly-rounded IEEE ops, identical in both engines), "
    "compared after dround(4); the rates themselves go through the "
    "integer-floor ratio. One user-keyed aggregation plus a scalar "
    "frame — the statistical-testing operator the growth-analytics "
    "family (x45/x46/x55) reports into.",
    tags=("events", "statistics"),
)
def x72_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        tbl(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
                > F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            )
            .cast("int")
            .alias("converted")
        )
        .withColumn("arm", F.col("user_id") % 2)
    )
    agg = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    )
    # every data-dependent denominator NULLIF-guarded: an empty arm
    # must yield NULL in BOTH engines, not an ANSI error in one
    na = F.nullif(F.col("n_a").cast("double"), F.lit(0.0))
    nb = F.nullif(F.col("n_b").cast("double"), F.lit(0.0))
    ca, cb = F.col("c_a").cast("double"), F.col("c_b").cast("double")
    pooled = (ca + cb) / F.nullif(
        (F.col("n_a") + F.col("n_b")).cast("double"), F.lit(0.0)
    )
    z = (ca / na - cb / nb) / F.nullif(
        F.sqrt(
            pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / na + F.lit(1.0) / nb)
        ),
        F.lit(0.0),
    )
    return agg.select(
        "n_a", "n_b", "c_a", "c_b",
        floor_ratio(F.col("c_a"), F.col("n_a"), 4).alias("rate_a"),
        floor_ratio(F.col("c_b"), F.col("n_b"), 4).alias("rate_b"),
        dround(z, 4).alias("z_score"),
    )


# ---------------------------------------------------------------- x73
_X73_BINS = 20


@register(
    "x73_histogram",
    oracle=f"""
        WITH c AS (
            SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
            FROM orders
        ), b AS (
            SELECT CAST(MIN(cents) AS BIGINT) AS lo,
                   CAST(MAX(cents) AS BIGINT) AS hi
            FROM c
        ), binned AS (
            SELECT least({_X73_BINS - 1},
                         ((cents - lo) * {_X73_BINS}) // (hi - lo + 1)) AS bin,
                   lo, hi
            FROM c CROSS JOIN b
        )
        SELECT CAST(bin AS BIGINT) AS bin,
               CAST(MIN(lo + bin * (hi - lo + 1) // {_X73_BINS}) AS BIGINT)
                   AS bin_lo_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM binned
        GROUP BY bin
    """,
    doc="Equi-width histogram profiling (the distribution report "
    "x49's min/max summary cannot show): order totals in integer "
    "cents binned into 20 equal-width buckets — bin assignment is "
    "pure integer floor arithmetic off a broadcast (min, max) "
    "scalar frame, so bucket membership is exact on both engines "
    "(a float bin width would put boundary values at tie risk). "
    "Two scans (bounds + binning), one narrow groupBy(bin).",
    tags=("profiling", "quality"),
)
def x73_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tbl(spark, sf_dir, "orders").select(
        cents(F.col("o_totalprice"), 100).alias("cents")
    )
    b = c.agg(
        F.min("cents").cast("bigint").alias("lo"),
        F.max("cents").cast("bigint").alias("hi"),
    )
    width = F.col("hi") - F.col("lo") + 1
    bin_col = F.least(
        F.lit(_X73_BINS - 1),
        F.call_function("div", (F.col("cents") - F.col("lo")) * _X73_BINS, width),
    )
    return (
        c.crossJoin(F.broadcast(b))
        .select(bin_col.alias("bin"), "lo", "hi")
        .groupBy("bin")
        .agg(
            F.min(
                F.col("lo")
                + F.call_function("div", F.col("bin") * (F.col("hi") - F.col("lo") + 1), F.lit(_X73_BINS))
            )
            .cast("bigint")
            .alias("bin_lo_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
        .select(F.col("bin").cast("bigint").alias("bin"), "bin_lo_cents", "n_orders")
    )


# ---------------------------------------------------------------- x74
_X74_BUDGET = 100_000


@register(
    "x74_token_budget",
    oracle=f"""
        WITH s AS (
            SELECT source,
                   CAST(SUM(len({SQL_TOKS.format(x="text")})) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source
        ), t AS (
            SELECT *, CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
            FROM s
        ), q AS (
            SELECT source, n_tokens, total,
                   ({_X74_BUDGET} * n_tokens) // total AS quota,
                   ({_X74_BUDGET} * n_tokens) % total AS rem
            FROM t
        ), r AS (
            SELECT *,
                   ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rnk,
                   {_X74_BUDGET} - CAST(SUM(quota) OVER () AS BIGINT) AS leftover
            FROM q
        )
        SELECT source, n_tokens,
               CAST(quota AS BIGINT) AS quota,
               CAST(quota + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
                   AS final_alloc
        FROM r
    """,
    doc="Token-budget apportionment across sources (the data-mixing "
    "allocator behind x50's sampling): a fixed token budget splits "
    "proportionally to per-source token mass via the "
    "largest-remainder method — integer floor quotas, leftover "
    "units to the largest scaled remainders with a total order on "
    "(remainder, source) — so allocations are exact integers that "
    "SUM EXACTLY to the budget (no float proportions that "
    "over/under-allocate by rounding). The windows run over the "
    "SOURCE aggregate (one row per source), broadcast-sized at any "
    "corpus scale.",
    tags=("sampling", "curation"),
)
def x74_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    s = (
        tbl(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(T.tokens("text"))).cast("bigint").alias("n_tokens"))
    )
    w_all = Window.partitionBy()
    t = s.withColumn("total", F.sum("n_tokens").over(w_all).cast("bigint"))
    scaled = F.lit(_X74_BUDGET) * F.col("n_tokens")
    # NULLIF the zero-mass corpus (r12 probe): ANSI-mode Spark THROWS
    # on integer div/% by zero where DuckDB's // returns NULL — an
    # error-vs-NULL cross-engine divergence on an all-empty corpus;
    # with the guard both engines emit NULL allocations
    total = F.nullif(F.col("total"), F.lit(0))
    q = t.select(
        "source",
        "n_tokens",
        F.call_function("div", scaled, total).alias("quota"),
        (scaled % total).alias("rem"),
    )
    r = q.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), F.col("source").asc()))
        .alias("rnk"),
        (F.lit(_X74_BUDGET) - F.sum("quota").over(w_all)).alias("leftover"),
    )
    return r.select(
        "source",
        "n_tokens",
        F.col("quota").cast("bigint").alias("quota"),
        (F.col("quota") + F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0))
        .cast("bigint")
        .alias("final_alloc"),
    )


# ---------------------------------------------------------------- x75
@register(
    "x75_hypertable_rollup",
    oracle=f"""
        SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS month,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_money_sum("value")} AS total_value,
               CAST(COUNT(DISTINCT date_trunc('hour', CAST(ts AS TIMESTAMP)))
                    AS BIGINT) AS n_hours
        FROM events
        GROUP BY 1, 2
    """,
    doc="Hypertable-style hierarchical rollup (TimescaleDB "
    "continuous-aggregate shape): hourly partials aggregate once "
    "from raw events, daily derives from HOURLY partials, monthly "
    "derives from DAILY — each coarser level reads the much smaller "
    "finer level, never the raw table, which is what makes "
    "continuous aggregates cheap to maintain at 100 TB. Counts and "
    "integer-cent sums are associative, so the three-level chain is "
    "bit-identical to aggregating the raw table directly — the SQL "
    "oracle. The hour-count carries up the chain as a count of "
    "finer-level rows (exact, no distinct over raw data at the "
    "coarse levels).",
    tags=("events", "rollup", "agg"),
)
def x75_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tbl(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
        cents(F.col("value"), 100).alias("cents"),
    )
    hourly = ev.groupBy("hour", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("pn"),
        F.sum("cents").cast("bigint").alias("pc"),
    )
    daily = (
        hourly.withColumn("day", F.date_trunc("day", "hour"))
        .groupBy("day", "event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("pn"),
            F.sum("pc").cast("bigint").alias("pc"),
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        )
    )
    return (
        daily.withColumn("month", F.to_date(F.date_trunc("month", "day")))
        .groupBy("month", "event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            (F.sum("pc") / F.lit(100.0)).alias("total_value"),
            F.sum("n_hours").cast("bigint").alias("n_hours"),
        )
        .select("month", "event_type", "n_events", "total_value", "n_hours")
    )


# ---------------------------------------------------------------- x76
@register(
    "x76_rolling_distinct_users",
    oracle="""
        WITH hu AS (
            SELECT DISTINCT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                   user_id
            FROM events
        ), hours AS (
            SELECT DISTINCT h FROM hu
        )
        SELECT hours.h AS hour,
               CAST(COUNT(DISTINCT hu.user_id) AS BIGINT) AS dau_24h
        FROM hours JOIN hu
          ON hu.h <= hours.h AND hu.h > hours.h - INTERVAL 24 HOURS
        GROUP BY hours.h
    """,
    doc="Trailing-24h distinct active users per hour (rolling DAU — "
    "exact sliding-window COUNT DISTINCT, one of the classically "
    "hard ops at scale because distinct is not subtractable): each "
    "(hour, user) activity row explodes to the 24 target hours it "
    "contributes to — a BOUNDED 24x expansion equi-joined on the "
    "target hour, provably equal to the naive inequality join the "
    "SQL oracle runs (user active at hour u counts for target t iff "
    "t-23 <= u <= t iff t in u..u+23). The expansion input is the "
    "already-deduped (hour, user) frame, orders of magnitude "
    "smaller than raw events; target hours prune to hours that "
    "actually occur via a broadcast semi-join.",
    tags=("events", "window", "distinct"),
)
def x76_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tbl(spark, sf_dir, "events")
    hu = ev.select(
        F.date_trunc("hour", "ts").alias("h"), "user_id"
    ).distinct()
    hours = hu.select("h").distinct()
    contrib = hu.withColumn(
        "hour",
        F.explode(
            F.sequence(
                F.col("h"),
                F.col("h") + F.expr("INTERVAL 23 HOURS"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    return (
        contrib.join(
            F.broadcast(hours.withColumnRenamed("h", "hour")), "hour", "left_semi"
        )
        .groupBy("hour")
        .agg(F.count_distinct("user_id").cast("bigint").alias("dau_24h"))
    )


# ---------------------------------------------------------------- x77
_X77_TOPK = 10


@register(
    "x77_skew_report",
    oracle=f"""
        WITH k AS (
            SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY 1
        ), s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(MAX(n) AS BIGINT) AS max_n
            FROM k
        ), top AS (
            SELECT key, n, ROW_NUMBER() OVER (ORDER BY n DESC, key ASC) AS rnk
            FROM k
        )
        SELECT t.rnk, t.key, t.n,
               s.n_keys, s.n_rows,
               CAST((s.max_n * s.n_keys * 100) // s.n_rows AS BIGINT)
                   AS skew_pct_x100
        FROM top t CROSS JOIN s
        WHERE t.rnk <= {_X77_TOPK}
    """,
    doc="Join-key skew report (the diagnostic that decides when "
    "operators/scale.py salting is worth its replication cost): "
    "top heavy-hitter keys with their row counts plus the "
    "max-over-mean skew ratio as an integer-scaled percentage "
    "(max_n * n_keys * 100 DIV n_rows — the mean is n_rows/n_keys, "
    "so the ratio stays all-integer). One narrow key groupBy + a "
    "1-row stats frame; the top-k rank runs over the KEY aggregate, "
    "never raw rows.",
    tags=("profiling", "skew", "scale"),
)
def x77_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k = (
        tbl(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    s = k.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_n"),
    )
    top = k.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("key").asc())),
    ).filter(F.col("rnk") <= _X77_TOPK)
    return top.crossJoin(F.broadcast(s)).select(
        F.col("rnk").cast("bigint").alias("rnk"),
        "key",
        "n",
        "n_keys",
        "n_rows",
        F.call_function(
            "div", F.col("max_n") * F.col("n_keys") * 100, F.col("n_rows")
        )
        .cast("bigint")
        .alias("skew_pct_x100"),
    )


# ---------------------------------------------------------------- x78
@register(
    "x78_correlation_report",
    # Pearson r from EXACT integer moments: sums/sums-of-squares/
    # cross-products over int64 (token counts are small; products
    # stay in range), then one deterministic double expression —
    # the x72 determinism class. Never Spark's corr()/DuckDB's
    # corr(), whose float accumulation orders differ.
    oracle="""
        WITH d AS (
            SELECT source,
                   CAST(len(list_filter(string_split_regex(text, '\\s+'),
                        t -> t != '')) AS BIGINT) AS x,
                   CAST(len(list_distinct(list_filter(
                        string_split_regex(text, '\\s+'),
                        t -> t != ''))) AS BIGINT) AS y
            FROM documents
        ), m AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM d GROUP BY source
        )
        SELECT source, n, sx, sy,
               CAST(CAST(
                   (n * sxy - sx * sy)
                   / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                 * CAST(n * syy - sy * sy AS DOUBLE)), 0.0)
                   AS DECIMAL(28,4)) AS DOUBLE) AS pearson_r
        FROM m
    """,
    doc="Per-source Pearson correlation (token count vs distinct "
    "token count — the length/diversity relationship quality "
    "filters assume) computed from EXACT integer moments: one "
    "aggregation collects n/Σx/Σy/Σx²/Σy²/Σxy as int64, then the "
    "correlation is a single deterministic double expression "
    "(NULLIF-guarded, dround 4) — never the built-in corr(), whose "
    "float accumulation order is partition-dependent and diverges "
    "between engines. The statistical-moments pattern generalizes "
    "to covariance matrices and OLS (x24 uses the same trick in "
    "applyInPandas).",
    tags=("statistics", "text", "quality"),
)
def x78_correlation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = T.tokens("text")
    d = tbl(spark, sf_dir, "documents").select(
        "source",
        F.size(toks).cast("bigint").alias("x"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("y"),
    )
    m = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.nullif(
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        ),
        F.lit(0.0),
    )
    return m.select(
        "source", "n", "sx", "sy", dround(num / den, 4).alias("pearson_r")
    )


# ---------------------------------------------------------------- x79
@register(
    "x79_pareto_analysis",
    oracle="""
        WITH n AS (
            SELECT n_name AS nation,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        ), t AS (
            SELECT *, CAST(SUM(cents) OVER () AS BIGINT) AS total,
                   ROW_NUMBER() OVER (ORDER BY cents DESC, nation ASC) AS rnk
            FROM n
        ), c AS (
            SELECT *, CAST(SUM(cents) OVER (
                ORDER BY cents DESC, nation ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS cum_cents
            FROM t
        )
        SELECT CAST(rnk AS BIGINT) AS rnk, nation,
               CAST(cents / 100.0 AS DOUBLE) AS revenue,
               CAST((cum_cents * 10000) // total AS DOUBLE) / 10000.0
                   AS cum_share,
               (cum_cents * 5 >= total * 4) AS reached_80pct
        FROM c
    """,
    doc="Pareto (80/20) contribution analysis: nations ranked by "
    "revenue with the running cumulative share — the classic "
    "'how few segments carry 80% of revenue' report. The cumulative "
    "sum runs over integer cents under a total (revenue, nation) "
    "order; the share goes through the integer-floor ratio and the "
    "80% threshold is decided by integer cross-multiplication "
    "(cum*5 >= total*4), so no float enters any comparison. Windows "
    "run over the ~25-row nation aggregate.",
    tags=("retail", "agg", "window"),
)
def x79_pareto_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    nt = tbl(spark, sf_dir, "nation")
    n = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(nt, c["c_nationkey"] == nt["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(cents(F.col("o_totalprice"), 100))
            .cast("bigint")
            .alias("cents")
        )
    )
    w_all = Window.partitionBy()
    w_ord = Window.orderBy(F.col("cents").desc(), F.col("nation").asc())
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = n.select(
        "*",
        F.sum("cents").over(w_all).cast("bigint").alias("total"),
        F.row_number().over(w_ord).cast("bigint").alias("rnk"),
        F.sum("cents").over(w_cum).cast("bigint").alias("cum_cents"),
    )
    return t.select(
        "rnk",
        "nation",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        floor_ratio(F.col("cum_cents"), F.col("total"), 4).alias("cum_share"),
        (F.col("cum_cents") * 5 >= F.col("total") * 4).alias("reached_80pct"),
    )


# ---------------------------------------------------------------- x80
@register(
    "x80_event_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ) AS next_type
            FROM events
        ), c AS (
            SELECT event_type AS from_type, next_type AS to_type,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM seq WHERE next_type IS NOT NULL
            GROUP BY 1, 2
        ), r AS (
            SELECT *, CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
                       AS row_total
            FROM c
        )
        SELECT from_type, to_type, n,
               CAST((n * 10000) // row_total AS DOUBLE) / 10000.0 AS p
        FROM r
    """,
    doc="Behavioral transition matrix (first-order Markov estimate): "
    "per-user event sequences ordered by (ts, event_id) — the "
    "unique id makes same-microsecond ordering total — yield "
    "from->to transition counts via one LEAD window, row-normalized "
    "through the integer-floor ratio. The window partitions by "
    "user (bounded); the matrix itself is |event types|² rows. The "
    "sequence-mining primitive behind funnel discovery and "
    "next-action models.",
    tags=("events", "sequence", "window"),
)
def x80_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(w))
    c = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w_row = Window.partitionBy("from_type")
    r = c.withColumn("row_total", F.sum("n").over(w_row).cast("bigint"))
    return r.select(
        "from_type",
        "to_type",
        "n",
        floor_ratio(F.col("n"), F.col("row_total"), 4).alias("p"),
    )


# ---------------------------------------------------------------- x81
def _x81_oracle() -> str:
    from duckdb_retail_pipeline_spark.queries.extensions import _x26_oracle

    return f"""
        SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
               CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST((cluster_size - 1) * COUNT(DISTINCT cluster_id) AS BIGINT)
                   AS n_removable
        FROM ({_x26_oracle()}) c
        GROUP BY cluster_size
    """


@register(
    "x81_dedup_savings",
    oracle=_x81_oracle(),
    doc="Dedup savings report on top of the near-dup clusters "
    "(x26's iterative connected components over the verified "
    "SimHash pair graph): cluster-size histogram plus the number of "
    "removable documents per size class (keep one representative "
    "per cluster → size-1 removable each) — the number a curation "
    "pipeline reports before committing a dedup pass. Frame covers "
    "clustered documents (singletons never enter the pair graph). "
    "One extra narrow groupBy over the cluster assignment, which is "
    "SHARED with x26 via the session memo (queries/extensions.py "
    "dedup_cluster_assignment, persisted) — warm after x26 this "
    "query costs only the report groupBy, not the 16.7 s pair-graph "
    "+ iterative-components recompute it used to pay.",
    tags=("dedup", "curation", "graph"),
)
def x81_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.queries.extensions import (
        dedup_cluster_assignment,
    )

    clusters = dedup_cluster_assignment(spark, sf_dir)
    return clusters.groupBy("cluster_size").agg(
        F.count_distinct("cluster_id").cast("bigint").alias("n_clusters"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            (F.col("cluster_size") - 1) * F.count_distinct("cluster_id")
        )
        .cast("bigint")
        .alias("n_removable"),
    )


# ---------------------------------------------------------------- x82
@register(
    "x82_part_velocity",
    oracle="""
        WITH v AS (
            SELECT l_partkey,
                   CAST(COUNT(*) AS BIGINT) AS n_ship,
                   (MAX(CAST(l_shipdate AS DATE))
                    - MIN(CAST(l_shipdate AS DATE)) + 1) AS active_days
            FROM lineitem GROUP BY 1
        ), f AS (
            SELECT p.p_brand, v.n_ship, v.active_days,
                   (v.n_ship * 30 < v.active_days) AS slow
            FROM v JOIN part p ON v.l_partkey = p.p_partkey
        )
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(CASE WHEN slow THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_slow_movers,
               CAST(SUM(n_ship) AS BIGINT) AS total_shipments,
               CAST((SUM(n_ship) * 100) // NULLIF(SUM(active_days), 0)
                    AS DOUBLE) / 100.0 AS shipments_per_active_day
        FROM f GROUP BY p_brand
    """,
    doc="Part velocity / slow-mover screening (the product-side "
    "operational twin of x68's supplier view): per-part shipment "
    "counts over the part's active day span, a slow-mover flag by "
    "integer cross-multiplication (fewer than one shipment per 30 "
    "active days), rolled up per brand with a floor-ratio velocity. "
    "One fact groupBy on the part key, a threshold-decided join to "
    "the part dimension, a 25-row brand rollup — everything "
    "integer until the final exact division.",
    tags=("retail", "profiling"),
)
def x82_part_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    v = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ship"),
        (
            F.datediff(F.max(F.to_date("l_shipdate")), F.min(F.to_date("l_shipdate")))
            + 1
        )
        .cast("bigint")
        .alias("active_days"),
    )
    p = tbl(spark, sf_dir, "part").select("p_partkey", "p_brand")
    f = v.join(p, v["l_partkey"] == p["p_partkey"]).select(
        "p_brand",
        "n_ship",
        "active_days",
        (F.col("n_ship") * 30 < F.col("active_days")).alias("slow"),
    )
    return f.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(F.when(F.col("slow"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_slow_movers"),
        F.sum("n_ship").cast("bigint").alias("total_shipments"),
        floor_ratio(F.sum("n_ship"), F.sum("active_days"), 2).alias(
            "shipments_per_active_day"
        ),
    )


# ---------------------------------------------------------------- x83
@register(
    "x83_seasonal_index",
    oracle="""
        WITH m AS (
            SELECT n_name AS nation,
                   CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
                        AS DATE) AS month,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
              AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
            GROUP BY 1, 2
        ), t AS (
            SELECT *, CAST(SUM(cents) OVER (PARTITION BY nation) AS BIGINT)
                       AS year_cents,
                   CAST(COUNT(*) OVER (PARTITION BY nation) AS BIGINT)
                       AS n_months
            FROM m
        )
        SELECT nation, month,
               CAST(cents / 100.0 AS DOUBLE) AS revenue,
               CAST((cents * n_months * 10000) // NULLIF(year_cents, 0)
                    AS BIGINT) AS seasonal_index_x10000
        FROM t
    """,
    doc="Seasonal revenue index per nation over one calendar year: "
    "each month's revenue as an index against the nation's own "
    "monthly mean — index = monthly*n_months*10^4 DIV annual total, "
    "ALL integer (the mean never materializes as a float), so an "
    "index of 10000 means exactly average and the comparison is "
    "tie-free. One fact aggregation, nation-partitioned windows "
    "over the ~300-row monthly aggregate. The index-number "
    "companion to x62's anomaly flags.",
    tags=("retail", "seasonal", "window"),
)
def x83_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    nt = tbl(spark, sf_dir, "nation")
    m = (
        o.filter(
            (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
            & (F.to_date("o_orderdate") < F.lit("1997-01-01"))
        )
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(nt, c["c_nationkey"] == nt["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        )
        .agg(
            F.sum(cents(F.col("o_totalprice"), 100))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("nation")
    t = m.select(
        "*",
        F.sum("cents").over(w).cast("bigint").alias("year_cents"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_months"),
    )
    return t.select(
        "nation",
        "month",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        F.call_function(
            "div",
            F.col("cents") * F.col("n_months") * 10000,
            F.nullif(F.col("year_cents"), F.lit(0)),
        )
        .cast("bigint")
        .alias("seasonal_index_x10000"),
    )


# ---------------------------------------------------------------- x84
@register(
    "x84_cohort_ltv_curves",
    oracle="""
        WITH ev AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ), first AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM ev
            GROUP BY 1
        ), wk AS (
            SELECT f.cohort_day,
                   (CAST(e.ts AS DATE) - f.cohort_day) // 7 AS week_idx,
                   CAST(SUM(e.cents) AS BIGINT) AS cents
            FROM ev e JOIN first f ON e.user_id = f.user_id
            GROUP BY 1, 2
        )
        SELECT cohort_day,
               CAST(week_idx AS BIGINT) AS week_idx,
               CAST(cents / 100.0 AS DOUBLE) AS week_revenue,
               CAST(CAST(SUM(cents) OVER (
                   PARTITION BY cohort_day ORDER BY week_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) / 100.0 AS DOUBLE) AS cum_revenue
        FROM wk
    """,
    doc="Cohort revenue (LTV) curves: purchase revenue per cohort "
    "(first-purchase day) by weeks-since-acquisition, with the "
    "running cumulative — the lifetime-value curve growth teams "
    "read retention economics from. Week index is integer floor "
    "division of day offsets; the cumulative sum runs over integer "
    "cents partitioned per cohort (bounded window partitions), with "
    "exactly one division to money at the end. Completes the "
    "cohort family (x46 counts retention, x84 weights it by "
    "revenue).",
    tags=("events", "cohort", "window"),
)
def x84_cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = (
        tbl(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.to_date("ts").alias("day"),
            cents(F.col("value"), 100).alias("cents"),
        )
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    wk = (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.call_function(
                "div",
                F.datediff(F.col("day"), F.col("cohort_day")),
                F.lit(7),
            ).alias("week_idx"),
        )
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("week_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return wk.select(
        "cohort_day",
        F.col("week_idx").cast("bigint").alias("week_idx"),
        (F.col("cents") / F.lit(100.0)).alias("week_revenue"),
        (F.sum("cents").over(w).cast("bigint") / F.lit(100.0)).alias("cum_revenue"),
    )


# ---------------------------------------------------------------- x85
@register(
    "x85_stream_stream_left_outer",
    oracle="""
        WITH c AS (
            SELECT user_id, event_id AS click_id,
                   CAST(ts AS TIMESTAMP) AS click_ts
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id AS p_user_id, event_id AS purchase_id,
                   CAST(ts AS TIMESTAMP) AS purchase_ts, value
            FROM events WHERE event_type = 'purchase'
        ), cut AS (
            -- NULL (empty frame) when either side is empty: LEAST
            -- skips NULLs in both engines, but an idle stream side
            -- never advances the global watermark, so no outer rows
            -- would ever emit -- the closed-click frame must be
            -- empty too
            SELECT CASE WHEN (SELECT MAX(click_ts) FROM c) IS NOT NULL
                         AND (SELECT MAX(purchase_ts) FROM p) IS NOT NULL
                   THEN LEAST((SELECT MAX(click_ts) FROM c),
                              (SELECT MAX(purchase_ts) FROM p))
                        - INTERVAL 2 HOUR - INTERVAL 60 SECOND
                   END AS cutoff
        )
        SELECT c.user_id, c.click_id, p.purchase_id,
               CAST(ROUND(p.value * 100, 0) AS BIGINT) AS purchase_cents
        FROM c
        CROSS JOIN cut
        LEFT JOIN p
          ON c.user_id = p.p_user_id
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
        WHERE c.click_ts < cut.cutoff
    """,
    doc="Stream-stream LEFT OUTER event-time join (x58's missing "
    "variant, r5 verdict #7): clicks left-joined to purchases by "
    "the same user within the following hour, both sides genuine "
    "readStream sources with 1-hour watermarks. Outer NULL rows are "
    "emitted only when the GLOBAL watermark (min over both sides, "
    "advanced by the terminal no-data micro-batch — "
    "spark.sql.streaming.noDataMicroBatches.enabled, pinned on "
    "here) passes click_ts + 1h, so clicks inside the final "
    "watermark gap never get their NULL: the deterministic frame "
    "restricts BOTH engines to 'closed' clicks strictly older than "
    "min(max_click_ts, max_purchase_ts) - 2h - 60s (join range 1h "
    "+ watermark delay 1h + 60s margin for the watermark's "
    "millisecond truncation), computed from the batch table as a "
    "1-row broadcast. Within that cutoff the append-mode result is "
    "provably the batch left join (matches emit un-gated; every "
    "closed unmatched click is evicted and emits exactly one NULL "
    "row), which is the SQL oracle. At scale both sides come from "
    "Kafka; state is bounded by the watermark exactly as in x58.",
    tags=("streaming", "join", "events"),
)
def x85_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.streaming import events as SE

    # outer-null emission depends on the terminal no-data batch
    # advancing the watermark after the last data batch — pin the
    # default on explicitly, since correctness of the closed-click
    # contract depends on it
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")

    clicks = (
        SE.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        SE.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    hour = F.expr("INTERVAL 1 HOUR")
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + hour),
        "leftOuter",
    ).select(
        "user_id",
        "click_id",
        "click_ts",
        "purchase_id",
        cents(F.col("value"), 100).alias("purchase_cents"),
    )
    res = SE.run_stream_to_memory(joined, spark, output_mode="append")

    # deterministic closed-click cutoff from the BATCH table (1-row
    # broadcast, no driver round-trip)
    ev = tbl(spark, sf_dir, "events")
    mc = F.max(F.when(F.col("event_type") == "click", F.col("ts")))
    mp = F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
    # cutoff is NULL (frame empty) when either side is empty: least()
    # skips NULLs, but an idle stream side never advances the global
    # watermark, so the stream would emit no outer rows — the batch
    # oracle must agree (see the SQL twin's CASE)
    bounds = ev.agg(
        F.when(
            mc.isNotNull() & mp.isNotNull(),
            F.least(mc, mp)
            - F.expr("INTERVAL 2 HOURS")
            - F.expr("INTERVAL 60 SECONDS"),
        ).alias("cutoff")
    )
    return (
        res.crossJoin(F.broadcast(bounds))
        .filter(F.col("click_ts") < F.col("cutoff"))
        .select("user_id", "click_id", "purchase_id", "purchase_cents")
    )


# ---------------------------------------------------------------- x87
@register(
    "x87_bigram_lm_quality",
    oracle=rf"""
        WITH t AS (
            SELECT doc_id, {SQL_TOKS.format(x='text')} AS toks FROM documents
        ), bg AS (
            SELECT doc_id,
                   unnest(toks[1:len(toks)-1]) AS w1,
                   unnest(toks[2:len(toks)]) AS w2
            FROM t WHERE len(toks) >= 2
        ), ctx AS (
            SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_ctx FROM bg GROUP BY 1
        ), cbg AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bg FROM bg GROUP BY 1, 2
        )
        SELECT b.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(CAST(SUM((c.c_bg * {LM.SCALE}) // x.c_ctx) AS BIGINT)
                    // COUNT(*) AS BIGINT) AS lm_score_scaled
        FROM bg b
        JOIN cbg c ON b.w1 = c.w1 AND b.w2 = c.w2
        JOIN ctx x ON b.w1 = x.w1
        GROUP BY b.doc_id
    """,
    doc="Reference-corpus bigram-LM quality scoring "
    "(operators/lm.py): per-document floor-mean of integer "
    "floor-scaled conditional bigram probabilities under the corpus "
    "itself (the self-scoring bootstrap) — the KenLM-style "
    "sequence-typicality screen with the logarithm dropped so every "
    "value is int64-exact in ANSI SQL (the x54 no-ln convention). "
    "Shape: one explode to bigram rows, two vocab-bounded count "
    "aggs, two hash joins keyed on vocabulary terms, one per-doc "
    "agg — no UDF, no window, all shuffles vocabulary- or "
    "corpus-linear.",
    tags=("text", "quality", "lm"),
)
def x87_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return LM.bigram_lm_scores(docs)


# ---------------------------------------------------------------- x88
_X88_TOPN = 20  # per-ranker list depth fed into the fusion
_X88_K = 60     # the RRF constant (Cormack et al. SIGIR'09)
_X88_TOPK = 10


def _x88_oracle() -> str:
    cosine = sql_dround(
        SQL_COSINE_PARTS.format(a="e.embedding", b="q.qv")
        + f" / NULLIF({_sql_norm('e.embedding')} * {_sql_norm('q.qv')}, 0.0)",
        4,
    )
    return f"""
        WITH {_x44_ctes()},
        lex AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rnk
            FROM (SELECT doc_id, bm25 FROM scored
                  ORDER BY bm25 DESC, doc_id ASC LIMIT {_X88_TOPN})
        ), q AS (
            SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
        ), dense AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS rnk
            FROM (SELECT e.vec_id AS doc_id, {cosine} AS cosine
                  FROM embeddings e, q
                  ORDER BY cosine DESC, doc_id ASC LIMIT {_X88_TOPN})
        ), j AS (
            SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                   CAST(a.rnk + {_X88_K} AS BIGINT) AS da,
                   CAST(b.rnk + {_X88_K} AS BIGINT) AS db
            FROM lex a FULL OUTER JOIN dense b ON a.doc_id = b.doc_id
        ), s AS (
            SELECT doc_id,
                   CASE WHEN da IS NOT NULL AND db IS NOT NULL
                          THEN ((da + db) * 1000000000000) // (da * db)
                        WHEN da IS NOT NULL THEN 1000000000000 // da
                        ELSE 1000000000000 // db END AS rrf_scaled
            FROM j
        ), fused AS (
            SELECT doc_id, CAST(rrf_scaled AS BIGINT) AS rrf_scaled,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY rrf_scaled DESC, doc_id ASC) AS INTEGER)
                       AS fused_rank
            FROM s
        )
        SELECT doc_id, rrf_scaled, fused_rank FROM fused
        WHERE fused_rank <= {_X88_TOPK}
    """


@register(
    "x88_rrf_hybrid",
    oracle=_x88_oracle(),
    doc="Hybrid retrieval via reciprocal-rank fusion "
    "(similarity.py rrf_fuse; Cormack et al. SIGIR'09): the lexical "
    "ranker is x44's BM25 top-20 over documents, the dense ranker "
    "is the exact cosine top-20 over the embeddings table (vec_id "
    "IS the document id in the testdata corpus), fused as exact "
    "integer-scaled rationals 1/(60+rank) — no float sum, so a tie "
    "can never flip between engines — and cut to the fused top-10. "
    "Both ranked lists are engine-deterministic (dround(4) scores, "
    "id tiebreaks); the fusion join touches 2×20 rows per query, "
    "never the corpus.",
    tags=("text", "similarity", "ranking", "rag"),
)
def x88_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("query_id")
    lex = (
        _x44_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_X88_TOPN)
        .withColumn("query_id", F.lit(0).cast("bigint"))
        .withColumn(
            "rnk",
            F.row_number()
            .over(w.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
            .cast("bigint"),
        )
        .select("query_id", "doc_id", "rnk")
    )
    emb = tbl(spark, sf_dir, "embeddings")
    qvec = SIM.query_anchor_memo(spark, sf_dir, emb)
    dense = (
        SIM.brute_force_topk(emb, qvec, k=_X88_TOPN)
        .withColumnRenamed("vec_id", "doc_id")
        .withColumn("query_id", F.lit(0).cast("bigint"))
        .withColumn(
            "rnk",
            F.row_number()
            .over(w.orderBy(F.col("cosine").desc(), F.col("doc_id").asc()))
            .cast("bigint"),
        )
        .select("query_id", "doc_id", "rnk")
    )
    fused = SIM.rrf_fuse(lex, dense, k=_X88_K)
    return fused.filter(F.col("fused_rank") <= _X88_TOPK).select(
        "doc_id", "rrf_scaled", "fused_rank"
    )


# ---------------------------------------------------------------- x90
_X90_PHRASE = ("slow", "join")


@register(
    "x90_phrase_search",
    oracle=rf"""
        WITH t AS (
            SELECT doc_id, {SQL_TOKS.format(x='text')} AS toks FROM documents
        ), bg AS (
            SELECT doc_id,
                   unnest(toks[1:len(toks)-1]) AS w1,
                   unnest(toks[2:len(toks)]) AS w2
            FROM t WHERE len(toks) >= 2
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM bg
        WHERE w1 = '{_X90_PHRASE[0]}' AND w2 = '{_X90_PHRASE[1]}'
        GROUP BY doc_id
    """,
    doc="Exact phrase search over a positional inverted index "
    "(operators/search.py; the Manning/Raghavan/Schütze positional-"
    "intersection algorithm): one posexplode builds (token, doc, "
    "pos) postings, and a k-word phrase is k−1 hash equi-joins on "
    "(doc, start_position) with each side pre-filtered to ONE "
    "token's posting list — join inputs are posting-list-sized, "
    "never corpus-sized, which is why search engines persist "
    "exactly this frame (partitioned by token at scale). Since r9 "
    "the query SERVES from a dataset-memoized, token-clustered, "
    "persisted index (the x42/x89/x91 build/serve split — r8 "
    "verdict #2): cold pays one index build + token shuffle, every "
    "later phrase query probes the cached posting lists with batch "
    "pruning on the sorted token column. The oracle re-derives "
    "occurrences from adjacent-token pairs — an independent "
    "formulation of the same semantics.",
    tags=("text", "search"),
)
def x90_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.memo import dataset_memo
    from duckdb_retail_pipeline_spark.operators import search as SR

    idx = dataset_memo(
        spark, sf_dir, "positional_index",
        lambda: SR.positional_index(
            tbl(spark, sf_dir, "documents"), cluster_by_token=True
        ).persist(),
    )
    return SR.phrase_search(idx, list(_X90_PHRASE))


# ---------------------------------------------------------------- x92
_X92_ITERS = 3
_X92_TOPK = 20


def _x92_oracle() -> str:
    """Unrolled exact-integer PageRank CTE chain — the same fixed
    iterations operators/graph.py builds, independently formulated
    in ANSI SQL (integer division is `//`; all values positive, so
    trunc ≡ floor in both engines)."""
    ctes = [
        "items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk"
        " FROM lineitem)",
        "edges AS (SELECT DISTINCT a.pk AS src, b.pk AS dst FROM items a"
        " JOIN items b ON a.ok = b.ok AND a.pk <> b.pk)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg"
        " FROM edges GROUP BY src)",
        "r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg)",
    ]
    for i in range(1, _X92_ITERS + 1):
        ctes.append(
            f"r{i} AS (SELECT e.dst AS node,"
            f" CAST(150000 + SUM((r.r * 85) // (100 * d.outdeg)) AS BIGINT)"
            f" AS r FROM edges e"
            f" JOIN r{i - 1} r ON e.src = r.node"
            f" JOIN deg d ON e.src = d.src GROUP BY e.dst)"
        )
    return (
        "WITH " + ", ".join(ctes) + f"""
        SELECT f.node AS part, d.outdeg AS n_neighbors,
               f.r AS pagerank_scaled
        FROM r{_X92_ITERS} f JOIN deg d ON f.node = d.src
        ORDER BY pagerank_scaled DESC, part ASC
        LIMIT {_X92_TOPK}
    """
    )


@register(
    "x92_copurchase_pagerank",
    oracle=_x92_oracle(),
    doc="Fixed-iteration exact-integer PageRank over the part "
    "co-purchase graph (operators/graph.py; Page/Brin/Motwani/"
    "Winograd 1999) — the iterative graph-centrality operator next "
    "to x26's connected components, and the computation a web-corpus "
    "curation pipeline runs over a link graph to quality-weight "
    "documents. Ranks are INTEGER floor-scaled rationals (the "
    "x54/x66/x87 convention): fold-order-independent sums, so three "
    "unrolled iterations are bit-identical to the oracle's CTE "
    "chain. Shape: edges built once via the x66 order-keyed "
    "self-join bound and persisted (one slot); each iteration is "
    "one node-sized hash join + one groupBy(dst) with map-side "
    "partials — the vertex-centric shape that scales to billions "
    "of edges.",
    tags=("graph", "retail", "iterative"),
)
def x92_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.operators import graph as G

    edges = G.copurchase_edges(tbl(spark, sf_dir, "lineitem"))
    pr = G.pagerank(edges, iters=_X92_ITERS)
    return (
        pr.select(
            F.col("node").alias("part"),
            F.col("outdeg").alias("n_neighbors"),
            "pagerank_scaled",
        )
        .orderBy(F.col("pagerank_scaled").desc(), F.col("part").asc())
        .limit(_X92_TOPK)
    )


# ---------------------------------------------------------------- x93
_X93_TOPK = 20
_X93_CAPACITY = 400


@register(
    "x93_frequent_tokens",
    oracle=rf"""
        WITH toks AS (
            SELECT unnest({SQL_TOKS.format(x='text')}) AS token
            FROM documents
        ), counts AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM toks GROUP BY token
        )
        SELECT token, n_occurrences, TRUE AS heavy_bound_holds
        FROM counts
        ORDER BY n_occurrences DESC, token ASC
        LIMIT {_X93_TOPK}
    """,
    doc="Exact top-k frequent tokens in bounded memory "
    "(operators/sketch.py; Misra/Gries 1982): per-partition "
    "Misra-Gries summaries (mapInPandas, O(capacity) state, "
    "vectorized batch merge) produce a candidate set that PROVABLY "
    "contains every token with frequency > N/(capacity+1); a second "
    "pass recounts only the broadcast candidates — the shuffle "
    "carries candidate rows, never the near-unique vocabulary tail "
    "that makes a full groupBy spill at 100 TB. heavy_bound_holds "
    "certifies the exactness precondition in-plan (kth count × "
    "(capacity+1) > N), the a05/x12 contract idiom — the oracle is "
    "the plain full groupBy, so the two-pass machinery must "
    "reproduce it hash-exactly.",
    tags=("text", "sketch", "frequency"),
)
def x93_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.operators import dedup as D
    from duckdb_retail_pipeline_spark.operators import sketch as SK

    # _spread: the small-SF documents parquet is ONE split, which
    # would serialize the MG pass and the recount onto one core
    # (measured: warm 6.0 s at sf0.1 vs 3.6 s at 10× where the file
    # splits naturally); the doc-level spread is the dedup-family
    # convention — no-op cost at real scale
    docs = D._spread(tbl(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(F.explode(T.tokens("text")).alias("token"))
    # stream length from ONE column-pruned doc-level scan — not a
    # third pass over the exploded token rows
    total = docs.agg(
        F.sum(F.size(T.tokens("text"))).cast("bigint").alias("n_total")
    )
    return SK.frequent_tokens(
        toks, k=_X93_TOPK, capacity=_X93_CAPACITY, total=total
    )


# ---------------------------------------------------------------- x94
_X94_ITERS = 3
_X94_TOPK = 20
# parts share the bigint node namespace with customers — offset them
# clear of every o_custkey so the two id spaces cannot collide
_X94_OFFSET = 1_000_000_000


def _x94_oracle() -> str:
    """Unrolled textbook-convention PageRank CTE chain: per iteration
    one dangling-mass scalar CTE (LEFT JOIN deg … IS NULL), one
    contribution aggregate, and one universe-wide rebuild — the same
    exact-integer arithmetic operators/graph.py runs with
    redistribute_dangling=True, independently formulated in ANSI SQL
    (`//` is integer floor-div; every operand non-negative, so the
    engines agree)."""
    ctes = [
        "edges AS (SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS src,"
        f" CAST({_X94_OFFSET} + l.l_partkey AS BIGINT) AS dst"
        " FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg"
        " FROM edges GROUP BY src)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)",
    ]
    for i in range(1, _X94_ITERS + 1):
        p = i - 1
        ctes.append(
            f"d{i} AS (SELECT (COALESCE(SUM(r.r), 0) * 85)"
            f" // (100 * (SELECT n FROM nn)) AS share"
            f" FROM r{p} r LEFT JOIN deg d ON r.node = d.src"
            f" WHERE d.src IS NULL)"
        )
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" SUM((r.r * 85) // (100 * d.outdeg)) AS s"
            f" FROM edges e JOIN r{p} r ON e.src = r.node"
            f" JOIN deg d ON e.src = d.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT n.node, CAST(150000 + COALESCE(c.s, 0)"
            f" + (SELECT share FROM d{i}) AS BIGINT) AS r"
            f" FROM nodes n LEFT JOIN c{i} c ON n.node = c.node)"
        )
    return (
        "WITH " + ", ".join(ctes) + f"""
        SELECT f.node AS node,
               CAST(COALESCE(d.outdeg, 0) AS BIGINT) AS outdeg,
               f.r AS pagerank_scaled
        FROM r{_X94_ITERS} f LEFT JOIN deg d ON f.node = d.src
        ORDER BY pagerank_scaled DESC, node ASC
        LIMIT {_X94_TOPK}
    """
    )


@register(
    "x94_pagerank_dangling",
    oracle=_x94_oracle(),
    doc="Textbook-convention PageRank (redistribute_dangling=True, "
    "operators/graph.py; Page/Brin/Motwani/Winograd 1999) over the "
    "ASYMMETRIC customer→part bipartite purchase graph — every part "
    "is a dangling node (outdeg 0), so this drives exactly the "
    "semantics x92's symmetric co-purchase graph cannot: the node "
    "universe is src ∪ dst, per-iteration dangling mass is summed "
    "in-plan (one-row frame, broadcast crossJoin — no driver "
    "collect) and redistributed uniformly, and dangling nodes rank. "
    "Same exact-integer floor-scaled rationals as x92 — three "
    "unrolled iterations are bit-identical to the oracle's CTE "
    "chain. Part ids are offset out of the customer key space so "
    "the shared bigint node namespace cannot collide.",
    tags=("graph", "retail", "iterative"),
)
def x94_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.operators import graph as G

    orders = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").cast("bigint").alias("src"),
            (F.lit(_X94_OFFSET) + F.col("l_partkey"))
            .cast("bigint")
            .alias("dst"),
        )
        .distinct()
    )
    pr = G.pagerank(edges, iters=_X94_ITERS, redistribute_dangling=True)
    return pr.orderBy(
        F.col("pagerank_scaled").desc(), F.col("node").asc()
    ).limit(_X94_TOPK)


# ---------------------------------------------------------------- x95
_X95_TOPK = 10
_X95_CAPACITY = 16


@register(
    "x95_frequent_tokens_escalation",
    oracle=f"""
        WITH toks AS (
            SELECT unnest(string_split(p_name, ' ')) AS token FROM part
        ), counts AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM toks GROUP BY token
        )
        SELECT token, n_occurrences, TRUE AS heavy_bound_holds
        FROM counts
        ORDER BY n_occurrences DESC, token ASC
        LIMIT {_X95_TOPK}
    """,
    doc="frequent_tokens_exact's auto-escalation under the driver "
    "oracle (operators/sketch.py; r9 verdict #3): the part-name "
    "color vocabulary (~92 words, near-uniform counts) structurally "
    "defeats the Misra-Gries certificate at capacity 16 and its one "
    "doubling (kth·(cap+1) ≤ N at every attempt), so the operator "
    "must escalate through the bounded retries and land on the "
    "plain-groupBy exact fallback — whose result the oracle's full "
    "groupBy must reproduce hash-exactly. Exactness is "
    "path-independent by construction (certified MG recount and "
    "fallback both return the true top-k), which is what makes the "
    "escalation machinery oracle-gateable at every SF.",
    tags=("text", "sketch", "frequency"),
)
def x95_frequent_tokens_escalation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.operators import sketch as SK

    toks = tbl(spark, sf_dir, "part").select(
        F.explode(F.split(F.col("p_name"), " ")).alias("token")
    )
    return SK.frequent_tokens_exact(
        toks, k=_X95_TOPK, capacity=_X95_CAPACITY, max_doublings=1
    )


# ---------------------------------------------------------------- x96
@register(
    "x96_seasonal_decompose",
    oracle="""
        WITH series AS (
            SELECT CAST(c.c_nationkey AS BIGINT) AS key,
                   CAST(EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) * 12
                        + EXTRACT(MONTH FROM CAST(o.o_orderdate AS DATE)) - 1
                        AS BIGINT) AS t,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ), dec AS (
            SELECT key, t, cents,
                   CASE WHEN COUNT(cents) OVER w13 = 13 THEN
                       CAST(2 * SUM(cents) OVER w11
                            + SUM(cents) OVER wlo + SUM(cents) OVER whi
                            AS BIGINT)
                   END AS trend_x2p
            FROM series
            WINDOW w11 AS (PARTITION BY key ORDER BY t
                           RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING),
                   wlo AS (PARTITION BY key ORDER BY t
                           RANGE BETWEEN 6 PRECEDING AND 6 PRECEDING),
                   whi AS (PARTITION BY key ORDER BY t
                           RANGE BETWEEN 6 FOLLOWING AND 6 FOLLOWING),
                   w13 AS (PARTITION BY key ORDER BY t
                           RANGE BETWEEN 6 PRECEDING AND 6 FOLLOWING)
        )
        SELECT key, ((t % 12) + 12) % 12 AS pos,
               CAST(SUM(24 * cents - trend_x2p) AS BIGINT)
                   AS seasonal_sum_x2p,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(SUM(24 * cents - trend_x2p) AS DOUBLE)
                   / (COUNT(*) * 24.0) AS seasonal_avg
        FROM dec WHERE trend_x2p IS NOT NULL
        GROUP BY 1, 2
    """,
    doc="Classical additive seasonal decomposition, exact-integer "
    "(operators/timeseries.py; Kendall/Stuart centered-MA trend + "
    "per-period seasonal means) over per-nation monthly order "
    "revenue. The trend is the exact ×24 NUMERATOR of the centered "
    "12-month MA (RANGE frames over the integer month index — a "
    "missing month is a missing VALUE, and a duplicated (key, t) "
    "row NULLs the trend instead of double-counting); seasonal "
    "components ship as exact (sum, count) integer pairs plus ONE "
    "IEEE division for presentation — bit-identical cross-engine at "
    "any partitioning. The oracle formulates the same frames "
    "independently in ANSI SQL window syntax. Scale shape: the "
    "series frame is the output of an upstream aggregation (orders "
    "of magnitude smaller than facts); one shuffle on the series "
    "key for the windows, one groupBy for the means. Since the "
    "oracle's input is one row per (key, t) by construction, the "
    "COUNT(*) gate equals the operator's distinct-period gate.",
    tags=("timeseries", "retail", "window"),
)
def x96_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.operators import timeseries as TS

    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    series = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_nationkey").cast("bigint").alias("key"),
            (
                F.year(F.to_date("o_orderdate")) * 12
                + F.month(F.to_date("o_orderdate"))
                - 1
            ).cast("bigint").alias("t"),
            cents(F.col("o_totalprice"), 100).alias("cents"),
        )
        .groupBy("key", "t")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    return TS.seasonal_means(TS.decompose_additive(series))


# ---------------------------------------------------------------- x97
# parts share the bigint node namespace with customers (the x94
# convention) — offset them clear of every o_custkey
_X97_OFFSET = 1_000_000_000
_X97_EPS_PER_NODE = 200


@register(
    "x97_pagerank_fixed_point",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS src,
                   CAST({_X97_OFFSET} + l.l_partkey AS BIGINT) AS dst
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ), nodes AS (
            SELECT src AS node FROM edges
            UNION SELECT dst FROM edges
        ), deg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY src
        )
        SELECT n.node, CAST(COALESCE(d.outdeg, 0) AS BIGINT) AS outdeg,
               TRUE AS converged, TRUE AS fixed_point_holds
        FROM nodes n LEFT JOIN deg d ON n.node = d.src
    """,
    doc="Until-stable PageRank under the driver oracle "
    "(operators/graph.py pagerank_fixed_point_contract; the only "
    "substantial r10 operator without a driver row — r10 verdict "
    "#2): iterate the exact-integer damped map until total absolute "
    "rank change ≤ epsilon_per_node × n_nodes, a genuinely "
    "DATA-DEPENDENT depth no fixed oracle string can unroll "
    "(measured: 9 iterations on this graph at both sf0.001 and "
    "sf0.01 — damping-driven, not size-driven). The contract frame "
    "therefore emits only depth-INDEPENDENT facts (the a05/x12 "
    "idiom): the node universe + outdeg, which the oracle re-derives "
    "exactly, plus two booleans it expects TRUE — the operator's own "
    "convergence flag and an independent in-plan recheck that one "
    "MORE _step moves total mass by ≤ the same threshold (the "
    "fixed-point PROPERTY). Graph: x94's asymmetric customer→part "
    "bipartite purchase graph on the redistribute path (every part "
    "dangling). Per iteration: one src-partitioned hash join + one "
    "node-sized groupBy, localCheckpoint to keep lineage flat; the "
    "driver-side loop collects ONE int64 delta per iteration, never "
    "data-sized rows.",
    tags=("graph", "retail", "iterative", "contract"),
)
def x97_pagerank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.operators import graph as G

    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").cast("bigint").alias("src"),
            (F.lit(_X97_OFFSET) + F.col("l_partkey"))
            .cast("bigint")
            .alias("dst"),
        )
        .distinct()
    )
    return G.pagerank_fixed_point_contract(
        edges,
        max_iters=60,
        epsilon_per_node=_X97_EPS_PER_NODE,
        redistribute_dangling=True,
    )


# ---------------------------------------------------------------- x98
@register(
    "x98_triangle_counts",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), canon AS (
            SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
            FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
        ), tri AS (
            SELECT ab.lo AS a, ab.hi AS b, ac.hi AS c
            FROM canon ab
            JOIN canon ac ON ab.lo = ac.lo AND ab.hi < ac.hi
            JOIN canon bc ON bc.lo = ab.hi AND bc.hi = ac.hi
        ), corners AS (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM corners GROUP BY node
    """,
    doc="Exact per-node triangle counts over the undirected part "
    "co-purchase graph (operators/graph.py triangle_counts; the "
    "Suri/Vassilvitskii WWW'11 ordered two-path join) — the local "
    "clustering signal: a co-purchase triangle means three parts "
    "each pairwise co-bought, a far stronger association than "
    "x66's pairwise lift. Every triangle a<b<c is found exactly "
    "once by joining its two lowest-anchored edges on a (the "
    "wedge), then semi-joining the closing edge; per-node counts "
    "by exploding corners. The oracle formulates the same ordered "
    "join independently in ANSI SQL, corners via UNION ALL. Scale "
    "shape: one hash self-join on the lo endpoint (Σ deg_lo², "
    "bounded by the x92 per-basket cap upstream), one semi-join, "
    "one explode+groupBy — no iteration, no collect. The driver "
    "gate feeds it the UNCAPPED graph (max_basket=None, r12 ADVICE: "
    "the default cap 64 was value-equivalent only through the "
    "data-dependent fact that this corpus's max basket is 17 — a "
    "regenerated corpus with one 65-part order would fail the gate "
    "with a confusing structural mismatch; now engine and oracle "
    "are structurally identical and the plan drops the rank "
    "window). The at-scale deployment keeps the cap — that lever "
    "lives in copurchase_edges and is pinned by x92's gate.",
    tags=("graph", "retail"),
)
def x98_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.operators import graph as G

    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return G.triangle_counts(G.copurchase_edges(li, max_basket=None))


# ---------------------------------------------------------------- x99
# SemDeDup under the driver oracle: semantic_dedup pins the centroids
# to the first _X99_CELLS vectors by id (vec_ids are 0-based at every
# SF), so a FIXED SQL string reproduces the assignment argmax; the
# synthetic embeddings are near-orthogonal (no mass above cosine
# ~0.5), so the registered threshold must sit low enough that the
# drop path actually fires (208 of 500 dropped at sf0.001)
_X99_CELLS = 4
_X99_THRESHOLD = 0.3


def _x99_cent_cos(cent: str) -> str:
    return (
        f"({SQL_COSINE_PARTS.format(a='e.embedding', b=cent)}"
        f" / NULLIF({_sql_norm('e.embedding')} * {_sql_norm(cent)}, 0.0))"
    )


@register(
    "x99_semantic_dedup",
    oracle=f"""
        WITH {", ".join(
            f"c{k} AS (SELECT embedding AS v FROM embeddings"
            f" WHERE vec_id = {k})" for k in range(_X99_CELLS)
        )},
        base AS (
            SELECT e.vec_id, e.embedding,
                   [{", ".join(
                       _x99_cent_cos(f"c{k}.v")
                       for k in range(_X99_CELLS)
                   )}] AS sims,
                   {_sql_norm("e.embedding")} AS nrm
            FROM embeddings e, {", ".join(f"c{k}" for k in range(_X99_CELLS))}
        ), scored AS (
            SELECT vec_id, embedding, nrm,
                   CAST(COALESCE(list_position(sims,
                        list_aggregate(sims, 'max')) - 1, 0) AS BIGINT)
                       AS cell,
                   sims
            FROM base
        ), sc AS (
            SELECT vec_id, embedding, nrm, cell,
                   {sql_dround("sims[cell + 1]", 4)} AS cent_cos
            FROM scored
        ), dominated AS (
            SELECT DISTINCT a.vec_id
            FROM sc a JOIN sc b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
             AND (b.cent_cos < a.cent_cos
                  OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id))
            WHERE {sql_dround(
                SQL_COSINE_PARTS.format(a="a.embedding", b="b.embedding")
                + " / NULLIF(a.nrm * b.nrm, 0.0)", 4
            )} >= {_X99_THRESHOLD}
        )
        SELECT s.vec_id, s.cell, s.cent_cos, d.vec_id IS NULL AS keep
        FROM sc s LEFT JOIN dominated d ON s.vec_id = d.vec_id
    """,
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540) under the "
    "driver oracle (operators/dedup.py semantic_dedup — the r11 "
    "pre-built registration, queued by the r10 verdict behind "
    "x96–x98): cluster the embedding space, then drop every "
    "row some same-cell neighbor dominates — cosine ≥ threshold to "
    "it AND earlier in the (cent_cos, id) total order (the paper's "
    "keep-the-least-centroid-similar convention made exact by the "
    "id tie-break over dround(4) centroid cosines). The centroids "
    "are the first 4 vectors by id, unrefined, so the oracle "
    "re-derives the argmax assignment, the centroid-cosine order, "
    "and the dominated anti-join from the same parquet — the "
    "differential test's SQL, promoted (the x96–x98 precedent). "
    "Scale shape: the assignment is the IVF build (distributed "
    "passes, only centroid floats reach the driver), candidates are "
    "blocked by the cell equi-join with hoisted norms — O(cell²) "
    "per cell with n_cells ≈ √corpus at scale, never all-pairs; the "
    "scored frame is slot-persisted because it feeds the plan three "
    "times (r11 review).",
    tags=("dedup", "embeddings", "llm"),
)
def x99_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_retail_pipeline_spark.operators import dedup as D

    emb = tbl(spark, sf_dir, "embeddings")
    return D.semantic_dedup(
        emb,
        threshold=_X99_THRESHOLD,
        n_cells=_X99_CELLS,
    )

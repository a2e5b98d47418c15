"""Funnel and cohort analytics over keyed event streams — the
dashboard-tier queries that sit one step above the reference's
group-by/top-k panels (`/root/reference/ec2_data/app.py` builds its
panels from exactly this events shape): conversion within a window
and weekly retention cohorts.

Both are compositions of per-key aggregates and equi-joins — one
shuffle on the user key each, no windows over the whole corpus, no
driver passes — and both are exactly SQL-expressible for the oracle.
Date arithmetic sticks to day-granularity ``datediff`` against fixed
anchors (identical semantics in Spark and DuckDB); week boundaries
derive from integer day arithmetic, never engine-specific week
truncation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def funnel_conversion(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    step_a: str,
    step_b: str,
    within_seconds: int,
) -> DataFrame:
    """Two-step funnel: of the users whose FIRST ``step_a`` event
    exists, how many performed ``step_b`` within ``within_seconds``
    AFTER it (first qualifying occurrence).  Returns one row:
    ``n_step_a`` users entering the funnel, ``n_converted``, and
    ``conversion_rate`` (4 dp).

    Anchoring on the first ``step_a`` and requiring ``step_b``
    strictly at-or-after it is the standard product-analytics
    definition — a purchase BEFORE the signup does not convert.

    Scale: one aggregate per step keyed on the user (map-side
    combinable min), one equi-join between them — the events table is
    shuffled on the user key once per step and never self-joined
    row-to-row.  Gap comparison uses wall-clock ``timestamp_diff``
    microseconds (NTZ-safe, q91's convention).
    """
    first_a = (
        events.filter(F.col(type_col) == step_a)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_ts_a"))
    )
    b_events = events.filter(F.col(type_col) == step_b).select(
        F.col(user_col), F.col(ts_col).alias("_ts_b")
    )
    gap_us = F.timestamp_diff("MICROSECOND", F.col("_ts_a"), F.col("_ts_b"))
    converted = (
        first_a.join(b_events, user_col)
        .filter(
            (gap_us >= 0) & (gap_us <= F.lit(within_seconds * 1_000_000))
        )
        .select(user_col)
        .distinct()
        .withColumn("_converted", F.lit(1))
    )
    # one aggregate over the flagged funnel entrants — no 1x1 cross
    # join of separate count frames (a BroadcastNestedLoopJoin the
    # plan audit would count, however harmless at one row each)
    return (
        first_a.join(converted, user_col, "left")
        .agg(
            F.count(F.lit(1)).alias("n_step_a"),
            F.count("_converted").alias("n_converted"),
        )
        .select(
            "n_step_a",
            "n_converted",
            # try_divide: ANSI `/` raises DIVIDE_BY_ZERO when NOBODY
            # entered the funnel; NULL is both the sensible rate and
            # exactly what DuckDB's `/` yields, so the oracle agrees
            F.round(
                F.try_divide(F.col("n_converted"), F.col("n_step_a")), 4
            ).alias("conversion_rate"),
        )
    )


def funnel_steps(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: list[str],
    within_seconds: int | None = None,
) -> DataFrame:
    """k-step ordered funnel — the general form of
    ``funnel_conversion`` (signup→activate→purchase and longer): a
    user reaches step k when their EARLIEST qualifying step-k event
    sits at-or-after their step-(k-1) anchor; anchors chain greedily
    (each step's anchor is that earliest qualifying event, the
    standard product-analytics definition — greedy chaining is optimal
    here: an earlier anchor can only admit a superset of later
    events).  ``within_seconds`` bounds the WHOLE funnel: every
    subsequent anchor must fall within that window after the step-1
    anchor (wall-clock ``timestamp_diff`` microseconds, q91's
    convention); ``None`` means unbounded.

    Returns one row per step: ``step_index`` (1-based), ``step``
    (the event type), ``n_users`` reaching it, and
    ``conversion_rate`` vs step 1 (4 dp).

    Out-of-order events never convert (a purchase BEFORE the click
    anchor is filtered by the at-or-after gap); repeated events are
    absorbed by the per-user ``min``.  Consecutive duplicate step
    types are rejected — with at-or-after gaps a repeated type would
    vacuously convert at its own anchor; model "did it twice" with a
    distinct event type instead.

    Scale: per step, the events table is filtered to ONE type and
    shuffled on the user key for its min-aggregate, then equi-joined
    user-to-user with the (user-level, strictly shrinking) anchor
    frame — k-1 keyed joins total, never a row-to-row self-join over
    the raw events.  All k anchor columns ride ONE user-level frame,
    so the final per-step counts are a single aggregate pass, not k
    jobs re-running the chain.  The k-row output assembles via an
    in-row ``explode`` of struct literals — no union of k single-row
    frames.
    """
    if not steps:
        raise ValueError("funnel_steps requires at least one step")
    for a, b in zip(steps, steps[1:]):
        if a == b:
            raise ValueError(
                "consecutive duplicate step types vacuously convert "
                f"under at-or-after gaps (step {a!r} repeated); use "
                "distinct event types"
            )
    first = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_ts_1"))
    )
    cur = first
    for k, step in enumerate(steps[1:], start=2):
        ev_k = events.filter(F.col(type_col) == step).select(
            F.col(user_col), F.col(ts_col).alias("_e")
        )
        gap_prev = F.timestamp_diff(
            "MICROSECOND", F.col(f"_ts_{k - 1}"), F.col("_e")
        )
        qual = cur.join(ev_k, user_col).filter(gap_prev >= 0)
        if within_seconds is not None:
            gap_first = F.timestamp_diff(
                "MICROSECOND", F.col("_ts_1"), F.col("_e")
            )
            qual = qual.filter(
                gap_first <= F.lit(within_seconds * 1_000_000)
            )
        anchors_k = qual.groupBy(user_col).agg(
            F.min("_e").alias(f"_ts_{k}")
        )
        cur = cur.join(anchors_k, user_col, "left")
    counts = cur.agg(
        *[
            F.count(f"_ts_{k}").alias(f"_n_{k}")
            for k in range(1, len(steps) + 1)
        ]
    )
    per_step = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).cast("int").alias("step_index"),
                    F.lit(step).alias("step"),
                    F.col(f"_n_{k}").alias("n_users"),
                )
                for k, step in enumerate(steps, start=1)
            ]
        )
    )
    return (
        counts.select(per_step.alias("_s"), F.col("_n_1"))
        .select(
            F.col("_s.step_index").alias("step_index"),
            F.col("_s.step").alias("step"),
            F.col("_s.n_users").alias("n_users"),
            # try_divide, not `/`: an empty funnel (no step-1 users)
            # must yield NULL rates, not an ANSI DIVIDE_BY_ZERO crash
            # — found by the r8 hypothesis differential test; DuckDB's
            # `/` is NULL-on-zero so the oracle agrees
            F.round(
                F.try_divide(F.col("_s.n_users"), F.col("_n_1")), 4
            ).alias("conversion_rate"),
        )
        .orderBy("step_index")
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly retention matrix: users bucket into the week (since
    2024-01-01) of their FIRST event — the cohort — and each row counts
    how many of them were active ``week_offset`` weeks later.
    ``week_offset = 0`` is the cohort's own size; dashboards plot each
    cohort's row as its survival curve.

    Week indexes are ``floor(datediff(day) / 7)`` against that fixed
    epoch — pure integer day arithmetic, bit-identical across
    engines, immune to locale week-start and ISO-week edge cases.

    Scale: first-event aggregate (one shuffle on the user), broadcast-
    friendly join back, then a count-distinct per (cohort, offset) —
    cardinality bounded by users, output by weeks².
    """
    ep = F.lit("2024-01-01").cast("date")

    def week_idx(c: Column) -> Column:
        return F.floor(F.datediff(c.cast("date"), ep) / 7).cast("int")

    first = events.groupBy(user_col).agg(F.min(ts_col).alias("_first_ts"))
    joined = events.select(F.col(user_col), F.col(ts_col)).join(
        first, user_col
    )
    return (
        joined.select(
            F.col(user_col),
            week_idx(F.col("_first_ts")).alias("cohort_week"),
            (
                week_idx(F.col(ts_col)) - week_idx(F.col("_first_ts"))
            ).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(F.col(user_col)).alias("n_active_users"))
    )

"""Window operators.

Reference parity (SURVEY.md §2.5):
  W1 rolling mean (50-row trailing, min_periods=1) → ``rolling_mean``
     (reference: ec2_data/app.py:270,302-305 — pandas .rolling(50,
      min_periods=1).mean(); Spark's ragged-head row frame matches
      min_periods=1 exactly)
  W2 top-1 per group by recency → ``top1_per_group``
     (reference: src/lambda_3.py:57-68 — ORDER BY date DESC LIMIT 1)
  A10/W3 prefix-sum character spans → ``prefix_sum_spans``
     (reference: src/lambda_72.py:66-71 — cumulative offsets)

Scale notes: every window here partitions by a key (episode, user,
customer) — one hash shuffle, then a per-partition sort; no global
ordering anywhere, so the plans scale linearly with partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .scale import keyed_parallelism


def rolling_mean(
    df: DataFrame,
    value: Column | str,
    partition_by: list[str],
    order_by: list[str],
    out_col: str = "rolling_mean",
    exact_round_to: int | None = None,
) -> DataFrame:
    """Trailing row-frame rolling mean with min_periods=1 semantics.

    Frame = (49 preceding .. current row), the reference's 50-row W1
    window; Spark averages
    whatever rows exist at the head of the partition, exactly matching
    pandas ``rolling(window, min_periods=1).mean()``.

    ``exact_round_to=k`` computes the mean rounded HALF_UP to k decimal
    places entirely in integer arithmetic (micro-unit sums, integer
    division) — float summation order and each engine's round() mode
    then cannot perturb the result, so an independent engine (the
    DuckDB oracle) reproduces it bit-for-bit.  Requires non-negative
    values (integer-division HALF_UP trick).
    """
    val = F.col(value) if isinstance(value, str) else value
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-49, Window.currentRow)
    )
    if exact_round_to is None:
        return df.withColumn(out_col, F.avg(val).over(w))
    scale = 10**exact_round_to
    # micro-unit integer sum: exact regardless of accumulation order
    su = (F.sum(val.cast("decimal(18,6)")).over(w) * 1_000_000).cast("long")
    cnt = F.count(F.lit(1)).over(w)
    a = su * scale
    b = cnt * 1_000_000
    # HALF_UP for non-negative a/b: floor((2a + b) / (2b)).  The double
    # division is exact-enough: ties divide exactly; non-ties sit
    # ≥ 1/(2b) ≈ 1e-8 from an integer, far above double eps here.
    m_scaled = F.floor((a * 2 + b) / (b * 2)).cast("long")
    return df.withColumn(out_col, m_scaled.cast("double") / F.lit(float(scale)))


def top1_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
) -> DataFrame:
    """Generalized "newest row per group" (ORDER BY … DESC LIMIT 1).

    ``row_number`` (not rank) so exactly one row survives per group even
    on ties — pass a unique tiebreaker column last in ``order_by`` for
    deterministic output.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def prefix_sum_spans(
    df: DataFrame,
    length_col: str,
    partition_by: list[str],
    order_by: list[str],
) -> DataFrame:
    """Cumulative character spans: each row's [start, end) offset range.

    start = sum(length + 1) over all preceding rows; end = start +
    length + 1, written to ``start_offset``/``end_offset``.  The 1
    models the reference's trailing '\\n' appended to every sentence
    (src/lambda_72.py:60,69).
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    piece = F.col(length_col) + F.lit(1)
    return df.withColumn(
        "start_offset", F.coalesce(F.sum(piece).over(w), F.lit(0)).cast("long")
    ).withColumn("end_offset", (F.col("start_offset") + piece).cast("long"))


def grouped_ewma(
    df: DataFrame,
    value: str,
    partition_by: list[str],
    order_by: list[str],
    alpha: float = 0.3,
) -> DataFrame:
    """Exponentially weighted moving average per group — the grouped
    ``applyInPandas`` surface (§2.10) for genuinely RECURSIVE state
    (y_i = α·x_i + (1−α)·y_{i−1}) that no JVM window frame expresses.

    Each group becomes one pandas DataFrame (Arrow transfer), sorted by
    ``order_by`` inside the worker, then ``Series.ewm(alpha,
    adjust=False)`` — one shuffle on the group key, vectorized C inside
    the worker, no per-row Python.  At 100 TB the constraint is the
    largest single group fitting one worker's memory (same contract as
    any applyInPandas); shard long histories by time range first if a
    key's full series cannot.
    """
    import pandas as pd  # noqa: F401  (worker-side import)

    out_fields = df.schema.fields
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in out_fields
    ) + ", ewma double"

    def ewma(pdf):
        pdf = pdf.sort_values(order_by, kind="mergesort")
        pdf["ewma"] = (
            pdf[value].ewm(alpha=alpha, adjust=False).mean()
        )
        return pdf

    return df.groupBy(*partition_by).applyInPandas(ewma, schema)


def ewma_partitioned(
    df: DataFrame,
    value: str,
    key_cols: list[str],
    order_by: list[str],
) -> DataFrame:
    """Scale form of ``grouped_ewma`` at alpha 0.3: identical results, one Arrow
    stream per PARTITION instead of one pandas frame per GROUP.

    ``groupBy().applyInPandas`` pays per-group Python/Arrow overhead —
    with millions of tiny keys (users) that dominates.  Here the data
    is hash-repartitioned on the key and sorted within partitions by
    (key, order); ``mapInPandas`` then walks each partition's batches
    with a carry-over state dict (last EWMA per key), seeding each
    contiguous run via a prepended previous value (y_new = α·x +
    (1−α)·y_prev is exactly pandas ewm(adjust=False) with the seed
    prepended and dropped).  A key split across Arrow batches is
    continued, not restarted — correctness does not depend on batch
    size.  One shuffle; per-batch vectorized C.
    """
    import pandas as pd

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", ewma double"
    n_keys = len(key_cols)

    def run(batches):
        state: dict[tuple, float] = {}
        for pdf in batches:
            if pdf.empty:
                yield pdf.assign(ewma=pd.Series(dtype="float64"))
                continue
            out_vals = []
            # contiguous runs of the (sorted) key within this batch
            keys = pdf[key_cols].apply(tuple, axis=1)
            boundaries = (keys != keys.shift()).cumsum()
            for _, idx in pdf.groupby(boundaries.values, sort=False).groups.items():
                chunk = pdf.loc[idx]
                k = tuple(chunk.iloc[0][key_cols])
                x = chunk[value].astype("float64")
                prev = state.get(k)
                if prev is None:
                    ew = x.ewm(alpha=0.3, adjust=False).mean()
                else:
                    seeded = pd.concat(
                        [pd.Series([prev], dtype="float64"), x],
                        ignore_index=True,
                    )
                    ew = seeded.ewm(alpha=0.3, adjust=False).mean().iloc[1:]
                    ew.index = x.index
                state[k] = float(ew.iloc[-1])
                out_vals.append(ew)
            pdf = pdf.assign(ewma=pd.concat(out_vals))
            yield pdf

    # explicit-count keyed repartition: AQE's byte-based coalescing
    # must not squeeze the per-row pandas work onto 1-2 tasks
    # (operators/scale.keyed_parallelism; measured 1.55 s on 2 tasks
    # → parallel at bench scale, identical per-key results under any
    # partition count — each key's series stays whole)
    parts = keyed_parallelism(df, key_cols).sortWithinPartitions(
        *key_cols, *order_by
    )
    return parts.mapInPandas(run, schema)


def suppress_repeated_events(
    df: DataFrame,
    key_cols: list[str],
    dedup_cols: list[str],
    ts_col: str,
    order_cols: list[Column],
    max_gap_seconds: float,
) -> DataFrame:
    """Debounce a keyed event stream: drop an event when the PREVIOUS
    event of the same key (in ``order_cols`` order, which must
    totally order each key's events) has identical ``dedup_cols`` and
    arrived within ``max_gap_seconds`` — the telemetry double-fire /
    retry-duplicate suppression every event pipeline runs before
    counting anything.

    The comparison window is value-anchored (gap from the previous
    ROW), so a burst chain longer than the gap collapses to its first
    event only if each link is within the gap of the one before it —
    lag semantics, not a fixed time bucket, and therefore exactly
    expressible in SQL for the oracle.  Timestamps compare in integer
    microseconds via ``timestamp_diff`` — WALL-CLOCK difference, no
    session-zone conversion, so TIMESTAMP_NTZ inputs behave
    identically to DuckDB's ``date_diff`` even across DST transitions
    of the session zone.  NULL payload values compare null-safely
    (two consecutive NULLs ARE duplicates, matching SQL ``IS DISTINCT
    FROM``); only a genuinely first-in-key row is unconditionally
    kept.

    Scale: one shuffle on the key, ``lag`` windows parallel across
    keys — the same shape as the rolling mean (q07).
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    # first-in-key detection that survives null payload/ts values:
    # lag over a constant is null exactly on the first row of the key
    has_prev = F.lag(F.lit(1)).over(w).isNotNull()
    same_payload = has_prev
    for c in dedup_cols:
        same_payload = same_payload & F.col(c).eqNullSafe(
            F.lag(F.col(c)).over(w)
        )
    gap_us = F.timestamp_diff(
        "MICROSECOND", F.lag(F.col(ts_col)).over(w), F.col(ts_col)
    )
    dup = same_payload & (
        gap_us <= F.lit(int(max_gap_seconds * 1_000_000))
    )
    return df.withColumn("_is_dup", dup).filter(
        ~F.coalesce(F.col("_is_dup"), F.lit(False))
    ).drop("_is_dup")

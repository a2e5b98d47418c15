"""Aggregation operators.

Reference parity (SURVEY.md §2.4):
  A5 ordered string concat   → ``ordered_concat``
     (reference: src/lambda_5.py:71-81 — chunk transcripts joined in
      chunk_1..chunk_N order)
  A6 completion barrier      → ``completion_barrier``
     (reference: src/lambda_5.py:32,62-68 — reduce fires only when all
      expected chunks arrived)
  A7 dedup-on-insert         → ``dedup_insert``
     (reference: INSERT IGNORE against UNIQUE keys,
      src/lambda_2.py:205-238, src/lambda_71.py:103-119)
  A8 word frequency          → ``word_frequencies``
     (reference: ec2_data/app.py:365-406 — wordcloud input)

Scale notes: ``ordered_concat`` uses collect_list + array_sort inside
one hash aggregate (map-side partials apply to the list build); the
sort is per-group, never global.  ``dedup_insert`` is a left-anti hash
join on the natural keys — the idempotent-append primitive every
pipeline sink uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ordered_concat(
    df: DataFrame,
    group_by: list[str],
    order_col: str,
    text_col: str,
    sep: str = " ",
    out_col: str = "concatenated",
) -> DataFrame:
    """Per-group string concatenation in ``order_col`` order.

    collect_list gives no intra-group ordering guarantee across
    shuffles, so the order key is carried inside a struct and sorted
    after collection — array_sort on struct compares field-by-field,
    order key first.  One shuffle (the groupBy); per-group sort only.
    """
    pair = F.struct(F.col(order_col).alias("o"), F.col(text_col).alias("t"))
    return df.groupBy(*group_by).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(pair)), lambda x: x["t"]),
            sep,
        ).alias(out_col)
    )


def completion_barrier(
    arrived: DataFrame,
    expected: DataFrame,
    key: list[str],
    expected_count_col: str,
) -> DataFrame:
    """Keep only groups whose arrived row-count equals the expected count.

    Batch re-evaluation of the reference's reduce barrier: each trigger
    recomputes arrivals per key and releases complete groups; incomplete
    groups simply stay (no watermark, no timeout — src/lambda_5.py:65-68
    semantics, documented stall visible via ``.filter(~complete)``).
    """
    counts = arrived.groupBy(*key).agg(F.count(F.lit(1)).alias("_arrived"))
    joined = counts.join(F.broadcast(expected), on=key, how="inner")
    return joined.filter(F.col("_arrived") == F.col(expected_count_col)).select(
        *key, F.col("_arrived").alias("arrived_chunks")
    )


def dedup_insert(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
) -> DataFrame:
    """INSERT IGNORE semantics: incoming rows whose key is absent from
    ``existing`` — plus dedup *within* the incoming batch, so one row
    per key is appended (MySQL applies the UNIQUE check row-by-row and
    ignores a second row with the same key).  Unlike MySQL's
    first-writer-wins, WHICH of a key's in-batch duplicates survives is
    unspecified: ``dropDuplicates`` keeps an arbitrary one.

    Returns the rows that would be appended; callers append them to the
    existing store, making every sink idempotent under re-delivery.
    """
    batch_deduped = incoming.dropDuplicates(keys)
    return batch_deduped.join(existing.select(*keys), on=keys, how="left_anti")


def word_frequencies(
    df: DataFrame,
    text_col: str,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Whitespace-tokenized word counts with stopword removal.

    explode(split(lower(text))) → filter → hash aggregate; partial
    (map-side) aggregation makes this a single small shuffle even when
    the exploded token table is 100× the input.
    """
    words = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    if stopwords:
        words = words.filter(~F.col("word").isin(stopwords))
    return words.groupBy("word").agg(
        F.count(F.lit(1)).alias("num_occurences")
    )


def ratio_of_avgs(
    df: DataFrame,
    group_by: list[str],
    cols: list[str],
) -> DataFrame:
    """Per-group AVG of each column, normalized to proportions that sum
    to 1 across ``cols`` (the dashboard's sentiment-proportion query,
    ec2_data/app.py:333-346).
    """
    avgs = df.groupBy(*group_by).agg(
        *[F.avg(c).alias(f"_avg_{c}") for c in cols]
    )
    total: Column = sum((F.col(f"_avg_{c}") for c in cols), F.lit(0.0))
    out = avgs.select(
        *group_by,
        *[
            F.round(F.col(f"_avg_{c}") / total, 4).alias(f"{c}_share")
            for c in cols
        ],
    )
    return out


def mixture_weights(df: DataFrame, group_col: str) -> DataFrame:
    """Temperature-scaled mixture weights per corpus source (the
    pretraining data-mixing step: upsample rare domains, damp dominant
    ones).  ``share = n_s / N`` and ``weight = share ** 0.5``.

    One corpus-sized hash aggregate (map-side combinable count); the
    unpartitioned window runs over the AGGREGATED frame, whose
    cardinality is the number of distinct sources — small by
    definition, never corpus-sized.  The weight is ``sqrt``
    (correctly-rounded IEEE, bit-identical across runtimes — ``pow``
    is not), keeping the oracle hash-exact.
    """
    from pyspark.sql import Window

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = F.sum("n_docs").over(Window.partitionBy())
    share = (F.col("n_docs") / total).alias("share")
    return counts.select(group_col, "n_docs", share).withColumn(
        "weight", F.sqrt(F.col("share"))
    )

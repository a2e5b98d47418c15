"""Bit-parity pins for the one-round-trip literal builders
(functions/literals.py) and the reworked scale probes (operators/
scale.py) — the r14 optimization-round internals changes.

The literal helpers replace per-element ``F.lit`` trees with one
SQL-parsed constant; these tests prove the parsed doubles/longs are
BIT-IDENTICAL to the ``F.lit`` forms they replaced (repr() is the
shortest round-tripping decimal and Double.parseDouble is correctly
rounded, so equality is exact, not approximate).
"""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from serverless_podcast_etl_spark.functions import literals

# awkward doubles: subnormal, huge, repeating binary fractions,
# negative zero, exact integers, values with long shortest-repr
TRICKY_DOUBLES = [
    0.1,
    1.0 / 3.0,
    -0.0,
    0.0,
    5e-324,
    1.7976931348623157e308,
    -2.2250738585072014e-308,
    123456789.123456789,
    -1e-15,
    2.0**52 + 1,
    math.pi,
    -math.e,
]

TRICKY_LONGS = [0, 1, -1, 2**62, -(2**62), 9007199254740993, -42]


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def test_double_array_bit_identical_to_lit(spark):
    got = spark.range(1).select(
        literals.double_array(TRICKY_DOUBLES).alias("a"),
        F.array(*[F.lit(float(x)) for x in TRICKY_DOUBLES]).alias("b"),
    ).first()
    assert [_bits(x) for x in got["a"]] == [_bits(x) for x in got["b"]]


def test_long_array_and_matrix_exact(spark):
    got = spark.range(1).select(
        literals.long_array(TRICKY_LONGS).alias("a"),
        literals.long_matrix([TRICKY_LONGS, TRICKY_LONGS[::-1]]).alias("m"),
    ).first()
    assert list(got["a"]) == TRICKY_LONGS
    assert [list(r) for r in got["m"]] == [TRICKY_LONGS, TRICKY_LONGS[::-1]]


def test_double_array_rejects_non_finite():
    with pytest.raises(ValueError):
        literals.double_array([1.0, float("nan")])
    with pytest.raises(ValueError):
        literals.double_array([float("inf")])


def test_empty_arrays_are_typed(spark):
    row = spark.range(1).select(
        literals.double_array([]).alias("d"),
        literals.long_array([]).alias("l"),
    )
    assert dict(row.dtypes)["d"] == "array<double>"
    assert dict(row.dtypes)["l"] == "array<bigint>"
    got = row.first()
    assert list(got["d"]) == [] and list(got["l"]) == []


def test_ensure_parallelism_fans_out_single_file_scan(spark, sf_dir):
    """File-backed inputs: a one-row-group parquet scan estimates one
    split and is round-robined to default parallelism; the repartition
    is an explicit numbered one (not AQE-coalescible)."""
    from serverless_podcast_etl_spark.operators.scale import (
        ensure_parallelism,
    )
    from serverless_podcast_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    fanned = ensure_parallelism(docs)
    target = spark.sparkContext.defaultParallelism
    assert fanned.rdd.getNumPartitions() == target
    assert "Repartition" in fanned._jdf.queryExecution().logical().toString()
    # results unchanged by the round-robin
    assert fanned.count() == docs.count()


def test_keyed_parallelism_pins_count_and_results(spark, sf_dir):
    from serverless_podcast_etl_spark.operators.scale import (
        keyed_parallelism,
    )
    from serverless_podcast_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    parts = keyed_parallelism(ev, ["user_id"])
    expect = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    assert parts.rdd.getNumPartitions() == expect
    # hash partitioning on the key: each key lives in exactly one
    # partition (the invariant ewma_partitioned's carry-over needs)
    two = (
        parts.withColumn("_p", F.spark_partition_id())
        .groupBy("user_id")
        .agg(F.count_distinct("_p").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert two == 1

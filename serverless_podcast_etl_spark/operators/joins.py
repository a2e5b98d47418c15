"""Join operators beyond plain equi-joins.

Reference parity (SURVEY.md §2.3):
  J1 broadcast dim-lookup join  → ``dim_lookup_join``
    (reference: src/lambda_2.py:222-230 pulls the whole podcast dim into
     a Python dict; here: an explicit broadcast hash join)
  J3 positional zip join        → ``zip_join``
    (reference: src/lambda_71.py:74-89 aligns sentences[i] with
     sentiment_output[i] by list index)
  J4 offset interval as-of join → ``asof_join``
    (reference: src/lambda_72.py:66-118 two-pointer merge assigning
     entity char offsets to sentence spans)

Scale notes: ``asof_join`` uses the union + last(ignore-nulls) window
formulation — ONE shuffle on the key, no broadcast-nested-loop, no
cross product; this is the formulation that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dim_lookup_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
) -> DataFrame:
    """Broadcast hash join of a fact table against a small dimension.

    The reference materializes the dimension as an in-memory dict
    (src/lambda_2.py:222-230, src/lambda_3.py:40-48); the Spark-native
    equivalent is an explicit broadcast hint so the join never shuffles
    the fact side.
    """
    return fact.join(F.broadcast(dim), on=on, how="inner")


def zip_join(
    left: DataFrame,
    right: DataFrame,
    left_order: list[str],
    right_order: list[str],
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Positional (zip) join: row i of left ↔ row i of right.

    Both sides get a deterministic 0-based ``row_number`` (ordered by
    the given columns, optionally per partition key) and are equi-joined
    on it.  Reference: src/lambda_71.py:74-89 (sentence ↔ sentiment by
    list index).

    At scale this is a single shuffle per side on
    ``partition_by + [pos]``; with no ``partition_by`` the row numbering
    is a global sort — acceptable only for small sides (documented).
    """
    pkeys = partition_by or []

    def with_pos(df: DataFrame, order: list[str]) -> DataFrame:
        w = Window.partitionBy(*pkeys).orderBy(*order) if pkeys else Window.orderBy(*order)
        return df.withColumn("pos", F.row_number().over(w) - F.lit(1))

    lhs = with_pos(left, left_order)
    rhs = with_pos(right, right_order)
    return lhs.join(rhs, on=pkeys + ["pos"], how="inner")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tie_right_first: bool = True,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` within the same ``on`` key.

    Implemented as the scalable union-window formulation:
      1. tag both sides, union by a common schema,
      2. one window per key ordered by (ts, side, tiebreak),
      3. ``last(right_value, ignorenulls=True)`` over the running frame,
      4. keep only left rows.

    This shuffles each side once on the key — no range/nested-loop join,
    no broadcast requirement, skew handled by AQE.  Reference semantics:
    src/lambda_72.py:92-118 (forward-only cursor ⇒ "latest span at or
    before the offset"); ``tie_right_first=True`` means a right row at
    exactly ``left_ts`` matches (the reference's inclusive lower bound,
    src/lambda_72.py:105).
    """
    side_order = [0, 1] if tie_right_first else [1, 0]

    lhs = left.withColumn("_side", F.lit(side_order[1]))
    rhs = right.withColumn("_side", F.lit(side_order[0]))

    left_payload = [c for c in left.columns if c not in (on, left_ts)]
    rhs_u = rhs.select(
        F.col(on),
        F.col(right_ts).alias("_ts"),
        F.col("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
    )
    lhs_u = lhs.select(
        F.col(on),
        F.col(left_ts).alias("_ts"),
        F.col("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_cols],
        *[F.col(c) for c in left_payload],
    )

    unioned = rhs_u.unionByName(lhs_u)
    order = [F.col("_ts"), F.col("_side")]
    if right_tiebreak is not None:
        # Deterministic pick among right rows sharing (key, ts): the
        # max tiebreak value wins (nulls — i.e. left rows — sort first).
        order.append(F.col(f"_r_{right_tiebreak}").asc_nulls_first())
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(F.col(f"_r_{c}"), ignorenulls=True).over(w).alias(f"_asof_{c}")
            for c in right_cols
        ],
    )
    out = filled.filter(F.col("_side") == side_order[1]).select(
        F.col(on),
        F.col("_ts").alias(left_ts),
        *[F.col(c) for c in left_payload],
        *[F.col(f"_asof_{c}").alias(c) for c in right_cols],
    )
    return out

"""Single-round-trip literal array builders.

PySpark's ``F.lit``/``F.array`` construct expression trees one py4j
call at a time: a 16×16 literal centroid matrix built as
``F.array(*[F.array(*[F.lit(x) ...]) ...])`` costs ~550 driver↔JVM
round-trips (~2 calls per element), measured at 0.9-1.0 s per call
site on the IVF queries — pure plan-CONSTRUCTION latency, paid on
every re-plan (guide §4: the Python boundary; here it is the
expression-building boundary, not the data path).  These helpers
serialize the whole constant into ONE SQL string and hand it to the
JVM parser in a single ``F.expr`` call.

Exactness: integer literals carry the ``L`` (bigint) suffix; doubles
are rendered with ``repr()`` — the shortest decimal string that
round-trips to the same IEEE double — plus the ``D`` (double) suffix,
and Java's ``Double.parseDouble`` is correctly rounded, so the parsed
constant is bit-identical to the ``F.lit(float(x))`` it replaces
(pinned by tests/test_literals.py against the per-element form).
Non-finite doubles are rejected: SQL literal syntax has no NaN/inf
spelling, and no caller legitimately embeds one.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _double_sql(x) -> str:
    v = float(x)
    if math.isnan(v) or math.isinf(v):
        raise ValueError(
            f"double_array: non-finite literal {v!r} has no SQL spelling"
        )
    return repr(v) + "D"


def _long_sql(x) -> str:
    return f"{int(x)}L"


def double_array_sql(values) -> str:
    """SQL text of an ``array<double>`` literal (opt-r15: exposed so
    callers composing LARGER one-call ``F.expr`` strings can embed the
    literal without a separate round-trip)."""
    vals = list(values)
    if not vals:
        return "CAST(array() AS array<double>)"
    return "array(" + ",".join(_double_sql(x) for x in vals) + ")"


def double_matrix_sql(rows) -> str:
    """SQL text of an ``array<array<double>>`` literal."""
    rows = [list(r) for r in rows]
    if not rows:
        return "CAST(array() AS array<array<double>>)"
    inner = ",".join(
        "array(" + ",".join(_double_sql(x) for x in r) + ")" for r in rows
    )
    return "array(" + inner + ")"


def long_array_sql(values) -> str:
    """SQL text of an ``array<bigint>`` literal."""
    vals = list(values)
    if not vals:
        return "CAST(array() AS array<bigint>)"
    return "array(" + ",".join(_long_sql(x) for x in vals) + ")"


def long_matrix_sql(rows) -> str:
    """SQL text of an ``array<array<bigint>>`` literal."""
    rows = [list(r) for r in rows]
    if not rows:
        return "CAST(array() AS array<array<bigint>>)"
    inner = ",".join(
        "array(" + ",".join(_long_sql(x) for x in r) + ")" for r in rows
    )
    return "array(" + inner + ")"


def double_array(values) -> Column:
    """``array<double>`` literal column in one py4j round-trip."""
    return F.expr(double_array_sql(values))


def long_array(values) -> Column:
    """``array<bigint>`` literal column in one round-trip."""
    return F.expr(long_array_sql(values))


def long_matrix(rows) -> Column:
    """``array<array<bigint>>`` literal column in one round-trip."""
    return F.expr(long_matrix_sql(rows))

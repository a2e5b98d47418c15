"""PII detection and redaction for corpus curation.

A pretraining pipeline scrubs personally identifiable information
before anything else sees the text.  All JVM-side (``regexp_count`` /
``regexp_replace``, codegen'd — this runs over every document of a
100 TB corpus, so no Python appears here).

The patterns are deliberately restricted to regex syntax with
IDENTICAL semantics in Java regex (Spark) and RE2 (the DuckDB oracle):
character classes, bounded repetition, ``\\b`` ASCII word boundaries —
no lookaround (RE2 has none), no backreferences.  Redaction order is
part of the contract (emails first: an address contains dot-runs an
IPv4 pattern could otherwise nibble at).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\(\d{3}\) \d{3}-\d{4}"
IPV4_PATTERN = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# (pattern, replacement) in application order — shared verbatim with
# the SQL oracle builder below.
REDACTIONS: list[tuple[str, str]] = [
    (EMAIL_PATTERN, "<EMAIL>"),
    (PHONE_PATTERN, "<PHONE>"),
    (IPV4_PATTERN, "<IP>"),
]


def pii_columns(text_col: str):
    """The PII count/redact expressions keyed by output name, for
    ``scrub``."""
    text = F.col(text_col)
    redacted = text
    for pattern, token in REDACTIONS:
        redacted = F.regexp_replace(redacted, pattern, token)
    return {
        "n_emails": F.regexp_count(text, F.lit(EMAIL_PATTERN)).cast("long"),
        "n_phones": F.regexp_count(text, F.lit(PHONE_PATTERN)).cast("long"),
        "n_ipv4": F.regexp_count(text, F.lit(IPV4_PATTERN)).cast("long"),
        "text_redacted": redacted,
    }


def scrub(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Count and redact emails / phone numbers / IPv4 addresses.

    Columns: ``n_emails``, ``n_phones``, ``n_ipv4`` (longs, counted on
    the RAW text) and ``text_redacted`` (every match replaced by its
    placeholder token, in ``REDACTIONS`` order).  One projection — the
    scan stays pruned and every regex runs inside whole-stage codegen.
    """
    from ..operators.scale import ensure_parallelism

    return ensure_parallelism(df).select(
        F.col(id_col),
        *[c.alias(n) for n, c in pii_columns(text_col).items()],
    )


def scrub_sql_exprs(text_expr: str) -> dict[str, str]:
    """DuckDB twins of the ``scrub`` columns over ``text_expr``
    (counts via ``regexp_extract_all`` length; replace with the ``'g'``
    flag — DuckDB replaces only the first match by default)."""
    redacted = text_expr
    for pattern, token in REDACTIONS:
        redacted = f"regexp_replace({redacted}, '{pattern}', '{token}', 'g')"
    return {
        "n_emails": (
            f"CAST(len(regexp_extract_all({text_expr}, '{EMAIL_PATTERN}')) AS BIGINT)"
        ),
        "n_phones": (
            f"CAST(len(regexp_extract_all({text_expr}, '{PHONE_PATTERN}')) AS BIGINT)"
        ),
        "n_ipv4": (
            f"CAST(len(regexp_extract_all({text_expr}, '{IPV4_PATTERN}')) AS BIGINT)"
        ),
        "text_redacted": redacted,
    }

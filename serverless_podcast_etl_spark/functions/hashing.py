"""Portable deterministic hashing (engine-independent).

Everything that feeds a correctness oracle (MinHash, SimHash,
fingerprints) needs a hash both Spark and ANSI-SQL engines compute
identically.  ``xxhash64``/``hash`` are Spark-private, so we derive
integers from md5 hex digests — available and bit-identical everywhere:

    portable_hash48(s) = int(md5(s)[:12], 16)          # 48-bit
    bit(s, i)          = high bit of md5 hex digit i    # 32 bits

MinHash universal-hash family: h_i(x) = (a_i * x32 + b_i) mod p with
p = 4294967311 (first prime > 2^32); x32 < 2^32 and a_i < 2^16 keep the
product under 2^48 — no BIGINT overflow in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 4294967311  # first prime > 2^32
U32 = 4294967296

# (a, b) parameters for the universal hash family — fixed constants so
# Spark and the SQL oracle generate identical signatures.  Deterministic
# pseudo-random values derived from a fixed seed (recorded, not computed
# at runtime).
MINHASH_PARAMS: list[tuple[int, int]] = [
    (28393, 1190494759),
    (12891, 2015905063),
    (46829, 590434376),
    (9241, 3267000013),
    (60493, 1500450271),
    (20903, 2860486313),
    (38351, 198491317),
    (5573, 3628273133),
    (51437, 982451653),
    (17389, 2760727302),
    (44201, 413158511),
    (30011, 1073676287),
    (7919, 2038074743),
    (57719, 122949829),
    (24593, 3373587883),
    (41179, 694847539),
]


def minhash_value_sql(x32_expr: str, a: int, b: int) -> str:
    """One MinHash universal-hash application, ``(a*x + b) mod p``,
    as DuckDB SQL."""
    return f"(({x32_expr}) * {a} + {b}) % {MERSENNE_P}"


# Polynomial combiner for token-hash shingling: shingle hash =
# fold(h_i) = ((h_1·B + h_2) mod 2^32 · B + h_3) mod 2^32 … — position
# sensitive, overflow-safe (h < 2^32, B·h < 2^52), and string-free:
# shingles never materialize as strings, only token hashes combine.
SHINGLE_B = 1_000_003


def shingle_hash_array(tok_hashes: Column, n: int) -> Column:
    """Array of word-n-gram shingle hashes from an array of token
    hashes (both array<long>), computed entirely in-row.

    Formulated as ``zip_with`` over n shifted slices — NOT as
    ``transform(sequence, i -> element_at(tok_hashes, i+k))``: inside a
    higher-order lambda each ``element_at`` re-evaluates the whole
    ``tok_hashes`` expression tree, turning an O(len) fold into
    O(len²) md5 calls when tok_hashes is an unbound transform.  The
    slice form evaluates ``tok_hashes`` exactly n times per row
    regardless of how the input column was produced.
    """
    m = F.size(tok_hashes) - (n - 1)  # number of shingles
    acc = F.slice(tok_hashes, 1, m)
    for k in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(tok_hashes, k + 1, m),
            lambda a, h: (a * F.lit(SHINGLE_B) + h) % F.lit(U32),
        )
    return F.when(F.size(tok_hashes) >= n, acc).otherwise(
        F.array().cast("array<long>")
    )


def token_hashes_spark_sql(toks_sql: str) -> str:
    """Spark-SQL text of the portable 32-bit token hashes
    (``portable_hash48 % 2^32`` per token) over an array<string> SQL
    expression — ONE ``F.expr`` round-trip instead of the per-node
    py4j construction (opt-r15)."""
    return (
        f"transform({toks_sql}, t -> "
        f"CAST(conv(substring(md5(t), 1, 12), 16, 10) AS BIGINT) % {U32})"
    )


def token_hashes48_spark_sql(toks_sql: str) -> str:
    """Spark-SQL text of the UN-reduced 48-bit token hashes (the
    cross-detector shared scan — ``dedup.shared_token_hash48``)."""
    return (
        f"transform({toks_sql}, t -> "
        "CAST(conv(substring(md5(t), 1, 12), 16, 10) AS BIGINT))"
    )


def simhash_token_hashes_spark_sql(toks_sql: str) -> str:
    """Spark-SQL text of per-token SimHash hashes (first 8 md5 hex
    digits) over an array<string> SQL expression."""
    return (
        f"transform({toks_sql}, t -> "
        "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT))"
    )


def shingle_hash_array_spark_sql(th_sql: str, n: int) -> str:
    """Spark-SQL text of ``shingle_hash_array`` over an array<bigint>
    SQL expression (typically a BOUND column name, so the token-hash
    pass is not re-evaluated per slice) — same fold, same literals."""
    m = f"(size({th_sql}) - {n - 1})"
    acc = f"slice({th_sql}, 1, {m})"
    for k in range(1, n):
        acc = (
            f"zip_with({acc}, slice({th_sql}, {k + 1}, {m}), "
            f"(a, h) -> (a * {SHINGLE_B} + h) % {U32})"
        )
    return (
        f"(CASE WHEN size({th_sql}) >= {n} THEN {acc} "
        "ELSE CAST(array() AS array<bigint>) END)"
    )


def token_hashes_sql(toks_expr: str) -> str:
    """DuckDB twin of ``token_hashes_spark_sql`` over a VARCHAR[]
    expression."""
    return (
        f"list_transform({toks_expr}, x -> "
        f"CAST(('0x' || substr(md5(x), 1, 12)) AS BIGINT) % {U32})"
    )


def shingle_hash_sql(th: str, i: str, n: int) -> str:
    """DuckDB twin of one fold step: shingle hash at 1-based index i
    over token-hash list ``th``."""
    acc = f"{th}[{i}]"
    for k in range(1, n):
        acc = f"(({acc}) * {SHINGLE_B} + {th}[{i}+{k}]) % {U32}"
    return acc


def simhash_token_hash_sql(expr: str) -> str:
    """32-bit SimHash token hash (first 8 md5 hex digits) as DuckDB
    SQL — the twin of ``simhash_token_hashes_spark_sql``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"

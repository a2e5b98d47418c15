"""Text scalar functions: sentence tokenization, word tokenization.

F13 (SURVEY.md §2.8): the reference sentence-tokenizes transcripts with
NLTK punkt (src/lambda_5.py:84-87).  punkt is not in this container, so
the engine ships a documented regex approximation with the same
signature — pluggable, so a punkt-backed callable can be swapped in.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

# Split after ./!/? followed by whitespace, keeping the delimiter —
# a documented approximation of nltk.sent_tokenize for transcript prose
# (no abbreviation handling; transcripts rarely contain them).
_SENT_BOUNDARY = re.compile(r"(?<=[.!?])\s+")

# BPE-ish word tokenizer: word runs, or single non-word non-space chars.
BPE_TOKEN_PATTERN = r"\w+|[^\w\s]"


def sentence_split(text: str) -> list[str]:
    """Python-side sentence splitter (used by the pandas UDF and tests)."""
    if not text:
        return []
    return [s.strip() for s in _SENT_BOUNDARY.split(text) if s.strip()]


@F.pandas_udf(ArrayType(StringType()))
def sentence_tokenize_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched sentence tokenizer (F13).  The only Python UDF in
    the transcript pipeline — everything around it is JVM-side."""
    return texts.map(sentence_split)


def tokenize_sentences(
    df: DataFrame, text_col: str, id_cols: list[str]
) -> DataFrame:
    """Explode a transcript into (id…, sentence_index, sentence_text).

    0-based contiguous ``sentence_index`` per document, matching the
    reference's enumerate() (src/lambda_71.py:74,89).
    """
    # No forced fan-out here: the regex tokenizer is cheap per row, so
    # at local scale Python-worker startup dominates any parallelism
    # gain (measured: warm 1-partition 0.35s vs repartitioned 2.1s at
    # sf0.1).  At cluster scale the input is already multi-partition.
    return df.select(
        *id_cols,
        F.posexplode(sentence_tokenize_udf(F.col(text_col))).alias(
            "sentence_index", "sentence_text"
        ),
    )


def word_tokens(col: Column) -> Column:
    """Whitespace word tokens of lowered text (array<string>)."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def word_tokens_spark_sql(col_name: str) -> str:
    """Spark-SQL text of ``word_tokens`` over a column NAME — for
    composing one-call ``F.expr`` strings (opt-r15).  The '\\\\s+'
    spelling survives SQL string-literal unescaping as the regex
    ``\\s+`` (verified against the Python form).

    ``col_name`` is backtick-quoted as ONE identifier, so it must be a
    top-level column name without backticks: a dotted struct path
    (``meta.text``) resolves as a single literal name and fails.
    Every caller passes such names."""
    return f"filter(split(lower(`{col_name}`), '\\\\s+'), t -> t != '')"


def bpe_ish_tokens(col: Column) -> Column:
    """BPE-ish regex tokens: word runs + individual punctuation marks."""
    return F.regexp_extract_all(col, F.lit(BPE_TOKEN_PATTERN), 0)

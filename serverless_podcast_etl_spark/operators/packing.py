"""Sequence packing: assign documents to fixed-token-budget training
sequences (the concat-and-chunk packing used to build LLM pretraining
batches — documents are concatenated per stream and sliced every
``budget`` tokens; a document may straddle a boundary).

Spark-first shape: one window cumsum per stream key — embarrassingly
parallel across streams (sources/shards), which is how a 100 TB corpus
is packed in practice: thousands of independent streams, each a single
partition's sequential scan.  All integer arithmetic (DIV/%), so the
DuckDB oracle twin is hash-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens


def pack_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    stream_col: str,
    budget: int = 256,
) -> DataFrame:
    """Per-stream packing assignment: each document's token count, the
    training sequence its first token lands in (``seq_id``) and its
    offset inside that sequence (``seq_offset``).

    Order within a stream is by ``id_col`` (deterministic; a real
    pipeline would use its shuffle-assigned order).  The window is
    partitioned by the stream key — no global sort, no single-partition
    stage; stream cardinality bounds parallelism, exactly as in a
    sharded corpus writer.
    """
    n_tokens = F.size(word_tokens(F.col(text_col))).cast("long")
    w = (
        Window.partitionBy(stream_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = df.select(
        F.col(id_col), F.col(stream_col), n_tokens.alias("n_tokens")
    ).withColumn("_cum", F.sum("n_tokens").over(w))
    start = F.col("_cum") - F.col("n_tokens")
    return with_cum.select(
        id_col,
        stream_col,
        "n_tokens",
        start.alias("start_token"),
        F.expr(f"(_cum - n_tokens) DIV {budget}").alias("seq_id"),
        (start % budget).alias("seq_offset"),
    )


def pack_sequences_sql() -> str:
    """DuckDB twin of ``pack_sequences`` over the documents table
    (same tokenization, same integer DIV/% arithmetic)."""
    return """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_token,
       CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_id,
       CAST((cum - n_tokens) % 256 AS BIGINT) AS seq_offset
FROM c
"""

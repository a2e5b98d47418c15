"""M2 — transcript pipeline: audio chunks → barrier → transcript →
sentences.

The reference's serverless map-reduce (README.md:44-52): lambda_3
splits audio into 10 MB chunks, lambda_4 fans out one transcription
job per chunk, lambda_5 re-fires on every arrival, early-returns
until all chunks are present (the barrier, src/lambda_5.py:62-68),
then concatenates in chunk order and sentence-tokenizes.

Spark-first: the chunk fan-out is partition parallelism over chunk
rows; the barrier is ``completion_barrier`` (arrived == expected);
the ordered concat is one hash aggregate; tokenization is the single
Arrow-batched UDF.  Per-episode partitioning keeps every step local
to its group — the groupBy shuffle on episode_id is the only data
movement, same shape at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize_sentences
from ..operators.aggregates import completion_barrier, ordered_concat
from ..operators.multimodal import chunk_binary


def chunk_audio(
    audio: DataFrame,
    chunk_bytes: int = 10_000_000,
) -> DataFrame:
    """Split audio payloads into fixed-size chunks (S9;
    src/lambda_3.py:93-114).  Adds 1-based chunk_num and per-episode
    num_chunks — the count the reducer's barrier later checks
    (src/lambda_3.py:127-133)."""
    chunked = chunk_binary(audio, "content", chunk_bytes=chunk_bytes)
    counts = chunked.groupBy("episode_id").agg(
        F.max("chunk_num").alias("num_chunks")
    )
    return chunked.join(counts, "episode_id")


def transcribe_chunks(chunks: DataFrame) -> DataFrame:
    """Map stage (S15/lambda_4): one transcription per chunk row, by
    the deterministic fake ``transcribe_udf``.  Parallelism = partition
    count, the Spark analog of the reference's N concurrent Transcribe
    jobs.
    """
    from .ml_udfs import transcribe_udf

    return chunks.withColumn("payload", transcribe_udf(F.col("chunk"))).drop(
        "chunk"
    )


def _arrived(chunk_payloads: DataFrame) -> DataFrame:
    """One payload per (episode_id, chunk_num), the set both views of
    the barrier count.  The reference keys every chunk by its number
    (``<podcast>/<episode>/chunk_N``, S9; src/lambda_3.py:91-114, read
    back as chunk_1..chunk_N by src/lambda_5.py:72-74), so a redelivered
    chunk replaces its first copy; counting both copies would hold the
    episode back forever."""
    return chunk_payloads.dropDuplicates(["episode_id", "chunk_num"])


def reduce_transcripts(
    chunk_payloads: DataFrame,
    expected: DataFrame,
) -> DataFrame:
    """Reduce stage (lambda_5): barrier → ordered concat → transcript.

    ``expected`` maps episode_id → num_chunks.  Episodes with missing
    chunks are silently held back (reference semantics: early return,
    no timeout — src/lambda_5.py:65-68); they surface via
    ``incomplete_episodes``.  Transcript text is extracted from the
    Transcribe payload JSON path (F10; src/lambda_5.py:79).
    """
    arrived = _arrived(chunk_payloads)
    complete = completion_barrier(
        arrived, expected, key=["episode_id"], expected_count_col="num_chunks"
    )
    ready = arrived.join(complete.select("episode_id"), "episode_id")
    texts = ready.withColumn(
        "chunk_text",
        F.get_json_object(F.col("payload"), "$.results.transcripts[0].transcript"),
    )
    return ordered_concat(
        texts,
        group_by=["episode_id"],
        order_col="chunk_num",
        text_col="chunk_text",
        sep=" ",
        out_col="transcript",
    )


def incomplete_episodes(chunk_payloads: DataFrame, expected: DataFrame) -> DataFrame:
    """Monitoring view of the barrier: exactly the episodes
    ``reduce_transcripts`` holds back, with arrived vs expected counts
    (SURVEY §7.4.5 — stalls are exposed, never timed out)."""
    counts = _arrived(chunk_payloads).groupBy("episode_id").agg(
        F.count(F.lit(1)).alias("arrived_chunks")
    )
    joined = expected.join(counts, "episode_id", "left").na.fill(
        {"arrived_chunks": 0}
    )
    return joined.filter(F.col("arrived_chunks") != F.col("num_chunks"))


def transcript_sentences(transcripts: DataFrame) -> DataFrame:
    """Sentence-tokenize transcripts (F13) → one row per sentence with
    a 0-based contiguous index per episode (src/lambda_71.py:74,89)."""
    return tokenize_sentences(
        transcripts, text_col="transcript", id_cols=["episode_id"]
    )

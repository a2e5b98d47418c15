"""M3 — NLP alignment: sentiment zip-join + entity offset as-of join.

The two hardest reference operators (SURVEY §2.3 J3/J4):

* lambda_71 aligns sentence i with sentiment-output line i by list
  position (src/lambda_71.py:74-89) → ``align_sentiment`` (zip join
  per episode).
* lambda_72 assigns each entity's char offset to a sentence via a
  forward-only two-pointer over cumulative spans, with the "messy
  capture" rule: an entity straddling a sentence boundary belongs to
  the sentence containing its BEGIN offset (src/lambda_72.py:66-118)
  → ``align_entities`` (as-of join).  NOTE: the reference cursor
  advances only on a STRICT ``BeginOffset > span_end``
  (src/lambda_72.py:92), so an entity starting exactly at a sentence's
  first character lands in the PREVIOUS sentence — an off-by-one.  Our
  default is the corrected begin-containment rule (last span start ≤
  BeginOffset), a deliberate, documented deviation; pass
  ``boundary="reference"`` for the bug-compatible strict form.  Both
  are property-tested against independent Python re-implementations in
  tests/test_nlp_alignment.py.

Surrogate keys here are fact-scale: derived arithmetically from
(episode_id, sentence_index) — no global window, fully distributed
(SURVEY §7.4.1's 100 TB revisit, resolved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.joins import asof_join, zip_join
from ..operators.windows import prefix_sum_spans

# Max sentences per episode for arithmetic surrogate keys; a 10-hour
# episode is ~10k sentences, 1e6 leaves 100× headroom.
_SENT_KEY_SPAN = 1_000_000


def align_sentiment(sentences: DataFrame, sentiment_lines: DataFrame) -> DataFrame:
    """Zip join (J3): sentence i ↔ sentiment line i, per episode.

    ``sentiment_lines`` must carry (episode_id, line_index, Sentiment,
    SentimentScore) — line_index is the JSONL line number, which IS the
    positional contract of Comprehend's ONE_DOC_PER_LINE mode.
    """
    paired = zip_join(
        sentences,
        sentiment_lines,
        left_order=["sentence_index"],
        right_order=["line_index"],
        partition_by=["episode_id"],
    )
    return paired.select(
        "episode_id",
        "sentence_index",
        "sentence_text",
        F.col("Sentiment").alias("overall_sentiment"),
        F.col("SentimentScore.Negative").alias("negative_score"),
        F.col("SentimentScore.Neutral").alias("neutral_score"),
        F.col("SentimentScore.Positive").alias("positive_score"),
        F.col("SentimentScore.Mixed").alias("mixed_score"),
    )


def sentence_spans(sentences: DataFrame) -> DataFrame:
    """Cumulative char spans per sentence (A10): each sentence covers
    [start, start+len+1) in the '\\n'-joined transcript."""
    with_len = sentences.withColumn("_len", F.length("sentence_text"))
    return prefix_sum_spans(
        with_len,
        length_col="_len",
        partition_by=["episode_id"],
        order_by=["sentence_index"],
    ).select("episode_id", "sentence_index", "start_offset", "end_offset")


def align_entities(
    entities: DataFrame, spans: DataFrame, boundary: str = "begin"
) -> DataFrame:
    """Offset as-of join (J4): entity → sentence by char offset, per
    episode, including the messy-capture straddle rule (an entity
    spanning a boundary belongs to the sentence of its BEGIN offset,
    src/lambda_72.py:105-116).

    Boundary semantics — a DELIBERATE deviation, selectable:

    * ``boundary="begin"`` (default): sentence = last span with
      ``start <= BeginOffset`` — an entity starting exactly at a
      sentence's first character belongs to THAT sentence.
    * ``boundary="reference"``: bug-compatible with the reference's
      cursor, which advances only on ``BeginOffset > span_end``
      (src/lambda_72.py:92) — so an entity starting exactly at a
      sentence's start is assigned the PREVIOUS sentence (its span end
      equals the next span's start, and the strict ``>`` never fires).
      Equivalent as-of form: last span with ``start < BeginOffset``,
      clamped to sentence 0 for a document-initial entity.

    The two differ ONLY for entities whose BeginOffset lands exactly on
    a span boundary; both are property-tested against independent
    Python re-implementations of their loops in
    tests/test_nlp_alignment.py.

    Union-window formulation: one shuffle on episode_id, no range/
    nested-loop join (scales to arbitrarily many entities/episode).
    """
    if boundary not in ("begin", "reference"):
        raise ValueError(f"boundary must be 'begin' or 'reference', got {boundary!r}")
    probe = entities.select(
        "episode_id",
        F.col("BeginOffset").alias("_begin"),
        F.col("Text").alias("entity_text"),
        F.col("Type").alias("entity_type"),
    )
    rhs = spans.select(
        "episode_id",
        F.col("start_offset"),
        "sentence_index",
    )
    out = asof_join(
        probe,
        rhs,
        on="episode_id",
        left_ts="_begin",
        right_ts="start_offset",
        right_cols=["sentence_index"],
        # begin: span at exactly _begin matches (inclusive <=);
        # reference: it does not (strict <) — the cursor's off-by-one
        tie_right_first=(boundary == "begin"),
        right_tiebreak="sentence_index",
    )
    sent_idx = F.col("sentence_index")
    if boundary == "reference":
        # document-initial entity: no span start < 0 ⇒ null; the
        # reference's cursor starts at sentence 0 and never advances
        sent_idx = F.coalesce(sent_idx, F.lit(0))
    return out.select(
        "episode_id",
        "entity_text",
        "entity_type",
        sent_idx.cast("int").alias("sentence_index"),
        F.col("_begin").alias("begin_offset"),
    )


def build_sentence_dim(aligned_sentiment: DataFrame) -> DataFrame:
    """Final sentence_dimension rows with distributed surrogate ids:
    sentence_id = episode_id * 1e6 + sentence_index — deterministic,
    unique, no global sort (fact-scale safe)."""
    return aligned_sentiment.select(
        (
            F.col("episode_id") * _SENT_KEY_SPAN + F.col("sentence_index")
        ).alias("sentence_id"),
        "sentence_text",
        F.col("sentence_index").cast("int").alias("sentence_index"),
        "overall_sentiment",
        F.col("negative_score").cast("float"),
        F.col("neutral_score").cast("float"),
        F.col("positive_score").cast("float"),
        F.col("mixed_score").cast("float"),
        "episode_id",
    )


def build_entity_dim(aligned_entities: DataFrame) -> DataFrame:
    """Final entity_dimension rows; entity_id is a per-episode dense
    rank (window partitioned by episode — distributed).  begin_offset
    is carried through as the per-mention natural key component (see
    schemas.ENTITY_DIM — repeated mentions within a sentence must each
    keep a row, matching the reference's duplicate-accumulating table
    without inheriting its rerun duplication)."""
    w = Window.partitionBy("episode_id").orderBy(
        "begin_offset", "entity_text", "entity_type"
    )
    return aligned_entities.select(
        (
            F.col("episode_id") * _SENT_KEY_SPAN * 100
            + F.row_number().over(w)
        ).alias("entity_id"),
        "episode_id",
        "entity_text",
        "entity_type",
        "sentence_index",
        "begin_offset",
    )

"""Warehouse + staging schemas (SURVEY.md §1).

The five warehouse dimensions reproduce the reference DDL
(src/lambda_2.py:24-82) with Spark types per SURVEY §1.3; the staging
schemas mirror the S3 object shapes each pipeline stage consumes
(feed list src/lambda_1.py:75-82, RSS dict src/lambda_2.py:171-189,
Transcribe payload src/lambda_5.py:79, Comprehend sentiment line
src/lambda_71.py:77-81, Comprehend entities doc src/lambda_72.py:50).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --- warehouse dimensions (src/lambda_2.py:24-82) ---

TIME_DIM = StructType(
    [
        StructField("date", DateType(), False),
        StructField("year", IntegerType()),
        StructField("month", StringType()),
        StructField("month_number", IntegerType()),
        StructField("day", IntegerType()),
    ]
)

PODCAST_DIM = StructType(
    [
        StructField("podcast_id", LongType(), False),
        StructField("podcast_title", StringType(), False),  # UNIQUE
        StructField("description", StringType()),
    ]
)

EPISODE_DIM = StructType(
    [
        StructField("episode_id", LongType(), False),
        StructField("link", StringType(), False),  # UNIQUE
        StructField("podcast_id", LongType()),
        StructField("episode_release_date", DateType()),
        StructField("episode_title", StringType()),
        StructField("episode_description", StringType()),
        StructField("downloaded", BooleanType()),
        StructField("num_chunks", IntegerType()),
    ]
)

SENTENCE_DIM = StructType(
    [
        StructField("sentence_id", LongType(), False),
        StructField("sentence_text", StringType()),
        StructField("sentence_index", IntegerType(), False),
        StructField("overall_sentiment", StringType()),
        StructField("negative_score", FloatType()),
        StructField("neutral_score", FloatType()),
        StructField("positive_score", FloatType()),
        StructField("mixed_score", FloatType()),
        StructField("episode_id", LongType(), False),
    ]
)

# begin_offset is an addition over the reference DDL
# (src/lambda_2.py:73-82 has only an auto-increment PK): the reference
# table has NO unique key, so its INSERT IGNORE never dedups and
# repeated mentions of one entity within a sentence each keep a row —
# counts feeding entity_mention_counts / sentiment_distribution depend
# on that.  Keying per-mention on the char offset preserves those
# counts while keeping re-delivery idempotent (which the reference, in
# fact, does not: re-running lambda_72 duplicates every entity row —
# our key is the deliberate improvement).
ENTITY_DIM = StructType(
    [
        StructField("entity_id", LongType(), False),
        StructField("episode_id", LongType(), False),
        StructField("entity_text", StringType()),
        StructField("entity_type", StringType()),
        StructField("sentence_index", IntegerType()),
        StructField("begin_offset", LongType()),
    ]
)

# Natural (UNIQUE) keys driving surrogate generation + INSERT IGNORE.
NATURAL_KEYS: dict[str, list[str]] = {
    "time_dimension": ["date"],
    "podcast_dimension": ["podcast_title"],
    "episode_dimension": ["link"],
    "sentence_dimension": ["sentence_index", "episode_id"],
    "entity_dimension": ["episode_id", "begin_offset", "entity_text", "entity_type"],
}

# AUTO_INCREMENT ids, numbered in NATURAL_KEYS order by Warehouse.insert_ignore.
SURROGATE_IDS: dict[str, str] = {
    "podcast_dimension": "podcast_id",
    "episode_dimension": "episode_id",
}

# --- staging shapes ---


RSS_ENCLOSURE = StructType([StructField("url", StringType())])

RSS_ITEM = StructType(
    [
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("pubDate", StringType()),  # RFC-2822
        StructField("enclosure", RSS_ENCLOSURE),
    ]
)

RSS_CHANNEL = StructType(
    [
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("item", ArrayType(RSS_ITEM)),
    ]
)

RSS_DOC = StructType(
    [StructField("rss", StructType([StructField("channel", RSS_CHANNEL)]))]
)

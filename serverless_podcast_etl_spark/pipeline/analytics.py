"""Entry point 3 — the dashboard query library (ec2_data/app.py).

All 8 dashboard queries as DataFrame functions over the warehouse
dimensions.  Join-key note (SURVEY §7.4.2): the reference joins
entity→sentence on ``sentence_index`` ONLY (a latent bug masked by its
single-episode filters); we join on the full UNIQUE key
``(sentence_index, episode_id)`` — identical results under the
reference's own usage, correct with many episodes loaded.  For strict
parity audits the J2 queries also take ``bug_compatible=True``, which
reproduces the reference's index-only join verbatim (mirrors J4's two
boundary modes).

Read path.  A dashboard click reads one episode's partition of
``entity_dimension``/``sentence_dimension`` or a whole
``podcast_dimension``/``episode_dimension``; in a bulk-loaded
warehouse each of these is one file of a few KB.  Spark's file
packing reads such an input as one task, so each function marks it as one
partition (``operators.scale.single_partition``, given the
``episode_id`` it filters on): every aggregate, window and sort then
runs in that task with no exchange, and a join of two one-split inputs
runs there too as a shuffled hash join instead of a broadcast job.
A query becomes one Spark job.  No parallelism is lost — the scan was
one task already.  An input that packs into two or more splits (an
episode partition or dimension table that has collected several
commits) keeps the planner's plan: exchanges, and the broadcast
title→id lookup of ``next_undownloaded_episode``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import ratio_of_avgs, word_frequencies
from ..operators.scale import one_split, single_partition
from ..operators.windows import rolling_mean

# English stopword list for the wordcloud query (the reference
# delegates to wordcloud.STOPWORDS; fixed list here for determinism).
WORDCLOUD_STOPWORDS = [
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "for",
    "on", "with", "that", "this", "was", "as", "at", "be", "are", "but",
]


def _join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str,
    one_task: bool,
    hint: str | None = None,
) -> DataFrame:
    """``left`` ⋈ ``right``.  When both inputs are one split
    (``one_task``), both sides become one partition and the join runs
    inside that task as a shuffled hash join with no exchange: no
    broadcast job, no shuffle.  Otherwise the planner's join, with
    ``right`` hinted ``hint``."""
    if one_task:
        left, right, hint = left.coalesce(1), right.coalesce(1), "shuffle_hash"
    return left.join(right.hint(hint) if hint else right, on, how)


def distinct_podcasts(podcast_dim: DataFrame) -> DataFrame:
    """Dropdown: all podcasts (app.py:39)."""
    return (
        single_partition(podcast_dim)
        .select("podcast_title", "podcast_id")
        .distinct()
    )


def episodes_newest_first(episode_dim: DataFrame, podcast_id: int) -> DataFrame:
    """Dropdown: a podcast's episodes, newest first (app.py:97-102)."""
    return (
        single_partition(episode_dim)
        .filter(F.col("podcast_id") == podcast_id)
        .select("episode_title", "episode_id", "episode_release_date")
        .orderBy(F.desc("episode_release_date"), "episode_id")
    )


def next_undownloaded_episode(
    episode_dim: DataFrame, podcast_dim: DataFrame, podcast_title: str
) -> DataFrame:
    """The download selector (src/lambda_3.py:40-68): title→id lookup
    (J1, broadcast unless both tables are one split), then the newest
    not-yet-downloaded episode of that podcast (W2/O2) — 0 or 1
    rows."""
    pod = podcast_dim.filter(F.col("podcast_title") == podcast_title).select(
        "podcast_id"
    )
    return (
        _join(
            episode_dim,
            pod,
            "podcast_id",
            "inner",
            one_split(episode_dim) and one_split(podcast_dim),
            hint="broadcast",
        )
        .filter(~F.col("downloaded"))
        .orderBy(F.desc("episode_release_date"), F.desc("episode_id"))
        .limit(1)
        .select(
            "episode_id",
            "link",
            "episode_title",
            "episode_release_date",
            "podcast_id",
        )
    )


def distinct_entity_types(entity_dim: DataFrame, episode_id: int) -> DataFrame:
    """Dropdown: entity types present in an episode (app.py:132-136)."""
    return (
        single_partition(entity_dim, episode_id=episode_id)
        .filter(F.col("episode_id") == episode_id)
        .select("entity_type")
        .distinct()
    )


def entity_mention_counts(
    entity_dim: DataFrame, episode_id: int, entity_type: str
) -> DataFrame:
    """Bar plot: mention counts for a type in an episode, descending
    (app.py:180-187)."""
    return (
        single_partition(entity_dim, episode_id=episode_id)
        .filter(
            (F.col("entity_type") == entity_type)
            & (F.col("episode_id") == episode_id)
        )
        .groupBy("entity_text")
        .agg(F.count(F.lit(1)).alias("num_occurences"))
        .orderBy(F.desc("num_occurences"), "entity_text")
    )


def _entity_sentence_join(
    entity_dim: DataFrame,
    sentence_dim: DataFrame,
    episode_id: int,
    entity_type: str,
    sentence_cols: list[str],
    bug_compatible: bool,
) -> DataFrame:
    """J2: an episode's entities of one type ⟕ sentence.

    Default = corrected composite key ``(sentence_index, episode_id)``,
    so only the episode's own sentences can match.
    ``bug_compatible=True`` joins on ``sentence_index`` ONLY, exactly as
    the reference SQL does (``ON s.sentence_index = e.sentence_index``,
    app.py:234, 289, 341): with >1 episode in the warehouse each entity
    fans out to every episode's sentence at that index.  The two modes
    coincide under the reference's own single-episode filters.
    """
    ents = entity_dim.filter(
        (F.col("entity_type") == entity_type) & (F.col("episode_id") == episode_id)
    )
    if bug_compatible:
        on, sents, pinned = ["sentence_index"], sentence_dim, {}
    else:
        on = ["sentence_index", "episode_id"]
        sents = sentence_dim.filter(F.col("episode_id") == episode_id)
        pinned = {"episode_id": episode_id}
    return _join(
        ents,
        sents.select(*on, *sentence_cols),
        on,
        "left",
        one_split(entity_dim, episode_id=episode_id)
        and one_split(sentence_dim, **pinned),
    )


def sentiment_distribution(
    entity_dim: DataFrame,
    sentence_dim: DataFrame,
    episode_id: int,
    entity_type: str,
    bug_compatible: bool = False,
) -> DataFrame:
    """Pie chart: sentiment class counts over an entity type's
    sentences (app.py:230-238) — corrected composite-key join by
    default; ``bug_compatible=True`` replays the reference's
    index-only join (see ``_entity_sentence_join``)."""
    joined = _entity_sentence_join(
        entity_dim,
        sentence_dim,
        episode_id,
        entity_type,
        ["overall_sentiment"],
        bug_compatible,
    )
    return joined.groupBy("overall_sentiment").agg(
        F.count(F.lit(1)).alias("num_sentences")
    )


def sentiment_timeseries(sentence_dim: DataFrame, episode_id: int) -> DataFrame:
    """Line chart: 50-row rolling mean of (positive - negative) over
    sentence order (app.py:270,282-305)."""
    scored = (
        single_partition(sentence_dim, episode_id=episode_id)
        .filter(F.col("episode_id") == episode_id)
        .withColumn("score", F.col("positive_score") - F.col("negative_score"))
    )
    return rolling_mean(
        scored,
        value="score",
        partition_by=["episode_id"],
        order_by=["sentence_index"],
        out_col="rolling_sentiment",
    ).select("episode_id", "sentence_index", "score", "rolling_sentiment")


def entity_sentiment_proportions(
    entity_dim: DataFrame,
    sentence_dim: DataFrame,
    episode_id: int,
    entity_type: str,
    bug_compatible: bool = False,
) -> DataFrame:
    """Stacked bars: per-entity sentiment share (ratio of AVGs,
    app.py:333-346), descending by positive share.
    ``bug_compatible=True`` replays the reference's index-only join."""
    joined = _entity_sentence_join(
        entity_dim,
        sentence_dim,
        episode_id,
        entity_type,
        ["positive_score", "neutral_score", "negative_score"],
        bug_compatible,
    )
    out = ratio_of_avgs(
        joined,
        group_by=["entity_text"],
        cols=["positive_score", "neutral_score", "negative_score"],
    )
    return out.orderBy(F.desc("positive_score_share"), "entity_text")


def episode_word_frequencies(sentence_dim: DataFrame, episode_id: int) -> DataFrame:
    """Wordcloud input: word counts over an episode's sentences with
    stopwords removed (app.py:365-367,385-406)."""
    sents = single_partition(sentence_dim, episode_id=episode_id).filter(
        F.col("episode_id") == episode_id
    )
    return word_frequencies(
        sents, text_col="sentence_text", stopwords=WORDCLOUD_STOPWORDS
    ).orderBy(F.desc("num_occurences"), "word")

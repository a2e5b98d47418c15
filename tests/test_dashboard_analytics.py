"""The 8 dashboard queries (ec2_data/app.py) over a pipeline-built
warehouse — entry point 3 of the reference (SURVEY §3)."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from serverless_podcast_etl_spark.operators.scale import one_split
from serverless_podcast_etl_spark.pipeline import analytics
from serverless_podcast_etl_spark.pipeline.runner import run_full_pipeline
from serverless_podcast_etl_spark.pipeline.warehouse import Warehouse

from .fixtures import make_audio, make_rss_docs


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dash_wh"))
    w = Warehouse(spark, root)
    run_full_pipeline(
        w, make_rss_docs(spark), make_audio(spark, [1, 2, 3], 200), chunk_bytes=200
    )
    return w


def _an_episode_with_entities(wh) -> tuple[int, str]:
    row = (
        wh.read("entity_dimension")
        .groupBy("episode_id", "entity_type")
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    return row["episode_id"], row["entity_type"]


def test_dropdown_queries(wh):
    assert analytics.distinct_podcasts(wh.read("podcast_dimension")).count() == 3
    eps = analytics.episodes_newest_first(wh.read("episode_dimension"), 1)
    dates = [r["episode_release_date"] for r in eps.collect() if r[2] is not None]
    assert dates == sorted(dates, reverse=True)
    ep, _ = _an_episode_with_entities(wh)
    assert analytics.distinct_entity_types(wh.read("entity_dimension"), ep).count() > 0


def test_mention_counts_descending(wh):
    ep, et = _an_episode_with_entities(wh)
    out = analytics.entity_mention_counts(wh.read("entity_dimension"), ep, et)
    counts = [r["num_occurences"] for r in out.collect()]
    assert counts == sorted(counts, reverse=True) and len(counts) > 0


def test_sentiment_distribution_and_proportions(wh):
    ep, et = _an_episode_with_entities(wh)
    dist = analytics.sentiment_distribution(
        wh.read("entity_dimension"), wh.read("sentence_dimension"), ep, et
    )
    assert dist.agg(F.sum("num_sentences")).collect()[0][0] > 0

    props = analytics.entity_sentiment_proportions(
        wh.read("entity_dimension"), wh.read("sentence_dimension"), ep, et
    ).collect()
    for r in props:
        total = (
            r["positive_score_share"]
            + r["neutral_score_share"]
            + r["negative_score_share"]
        )
        assert abs(total - 1.0) < 0.01  # shares sum to 1


def test_j2_bug_compatible_diverges_with_multiple_episodes(spark):
    """J2 parity switch: ``bug_compatible=True`` joins on
    ``sentence_index`` only (app.py:234) — with 2 episodes loaded each
    entity picks up the OTHER episode's sentence at the same index, so
    counts fan out; the corrected composite-key default does not.
    With a single episode the two modes coincide."""
    sentences = spark.createDataFrame(
        [
            (0, 1, "POSITIVE", 0.9, 0.05, 0.05),
            (1, 1, "NEGATIVE", 0.1, 0.1, 0.8),
            (0, 2, "NEUTRAL", 0.2, 0.6, 0.2),
            (1, 2, "NEUTRAL", 0.2, 0.6, 0.2),
        ],
        "sentence_index INT, episode_id INT, overall_sentiment STRING, "
        "positive_score DOUBLE, neutral_score DOUBLE, negative_score DOUBLE",
    )
    entities = spark.createDataFrame(
        [(1, "PERSON", "alice", 0), (1, "PERSON", "bob", 1)],
        "episode_id INT, entity_type STRING, entity_text STRING, sentence_index INT",
    )

    def totals(bug_compatible):
        df = analytics.sentiment_distribution(
            entities, sentences, 1, "PERSON", bug_compatible=bug_compatible
        )
        return {r["overall_sentiment"]: r["num_sentences"] for r in df.collect()}

    corrected, buggy = totals(False), totals(True)
    # corrected: 1 POSITIVE + 1 NEGATIVE; buggy also captures episode
    # 2's NEUTRAL sentences at the same indexes (fan-out of 2 per entity)
    assert corrected == {"POSITIVE": 1, "NEGATIVE": 1}
    assert buggy == {"POSITIVE": 1, "NEGATIVE": 1, "NEUTRAL": 2}

    # single episode loaded -> modes coincide (the reference's masking)
    one_ep = sentences.filter(F.col("episode_id") == 1)
    a = analytics.sentiment_distribution(entities, one_ep, 1, "PERSON").collect()
    b = analytics.sentiment_distribution(
        entities, one_ep, 1, "PERSON", bug_compatible=True
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    props_buggy = analytics.entity_sentiment_proportions(
        entities, sentences, 1, "PERSON", bug_compatible=True
    )
    assert props_buggy.count() == 2  # still one row per entity_text


def test_sentiment_timeseries_rolling(wh):
    ep, _ = _an_episode_with_entities(wh)
    out = analytics.sentiment_timeseries(wh.read("sentence_dimension"), ep).collect()
    assert len(out) > 0
    # first row's rolling mean equals its own score (min_periods=1)
    first = min(out, key=lambda r: r["sentence_index"])
    assert abs(first["rolling_sentiment"] - first["score"]) < 1e-9


def test_word_frequencies_no_stopwords(wh):
    ep, _ = _an_episode_with_entities(wh)
    out = analytics.episode_word_frequencies(wh.read("sentence_dimension"), ep)
    words = {r["word"] for r in out.collect()}
    assert words and not (words & set(analytics.WORDCLOUD_STOPWORDS))


# click order: (name, tables read, call(frames, episode_id, entity_type,
# podcast row))
QUERIES = [
    ("distinct_podcasts", ["podcast_dimension"],
     lambda t, ep, et, pod: analytics.distinct_podcasts(*t)),
    ("episodes_newest_first", ["episode_dimension"],
     lambda t, ep, et, pod: analytics.episodes_newest_first(*t, pod["podcast_id"])),
    ("next_undownloaded_episode", ["episode_dimension", "podcast_dimension"],
     lambda t, ep, et, pod: analytics.next_undownloaded_episode(*t, pod["podcast_title"])),
    ("distinct_entity_types", ["entity_dimension"],
     lambda t, ep, et, pod: analytics.distinct_entity_types(*t, ep)),
    ("entity_mention_counts", ["entity_dimension"],
     lambda t, ep, et, pod: analytics.entity_mention_counts(*t, ep, et)),
    ("sentiment_distribution", ["entity_dimension", "sentence_dimension"],
     lambda t, ep, et, pod: analytics.sentiment_distribution(*t, ep, et)),
    ("sentiment_timeseries", ["sentence_dimension"],
     lambda t, ep, et, pod: analytics.sentiment_timeseries(*t, ep)),
    ("entity_sentiment_proportions", ["entity_dimension", "sentence_dimension"],
     lambda t, ep, et, pod: analytics.entity_sentiment_proportions(*t, ep, et)),
    ("episode_word_frequencies", ["sentence_dimension"],
     lambda t, ep, et, pod: analytics.episode_word_frequencies(*t, ep)),
]
# the queries over one episode, and whether each result is ordered
EPISODE_QUERIES = {
    "distinct_entity_types": False,
    "entity_mention_counts": True,
    "sentiment_distribution": False,
    "sentiment_timeseries": True,
    "entity_sentiment_proportions": True,
    "episode_word_frequencies": True,
}


def _run(spark, wh, query, ep, et, group):
    """Build ``query`` over ``wh`` and collect it under job group
    ``group``; returns its rows, its executed plan and the number of
    Spark jobs it launched."""
    name, tables, call = query
    pod = wh.read("podcast_dimension").orderBy("podcast_id").first()
    frames = [wh.read(t) for t in tables]
    sc = spark.sparkContext
    sc.setJobGroup(group, name)
    try:
        df = call(frames, ep, et, pod)
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return rows, plan, len(sc.statusTracker().getJobIdsForGroup(group))


def test_each_query_over_one_split_inputs_is_one_spark_job(spark, wh):
    """Every input of the fixture's queries is one file, so each query
    is one task: one Spark job, no exchange (no shuffle, no
    sort-sampling job, no broadcast job)."""
    ep, et = _an_episode_with_entities(wh)
    for t in ("podcast_dimension", "episode_dimension"):
        assert one_split(wh.read(t))
    for t in ("entity_dimension", "sentence_dimension"):
        assert one_split(wh.read(t), episode_id=ep)
    for q in QUERIES:
        _, plan, jobs = _run(spark, wh, q, ep, et, f"one-split-{q[0]}")
        assert jobs == 1 and "Exchange" not in plan, (q[0], jobs, plan)


def test_two_files_in_a_partition_keep_the_exchange(spark, wh, tmp_path):
    """A second commit into the same ``episode_id`` partition leaves two
    files: the queries over that episode keep their exchanges, and
    return the same rows as over that partition stored as one file
    (the fixture's)."""
    ep, et = _an_episode_with_entities(wh)
    multi = Warehouse(spark, str(tmp_path / "multi"))
    for t in ("entity_dimension", "sentence_dimension"):
        rows = wh.read(t)
        half = rows.filter(
            (F.col("episode_id") != ep) | (F.col("sentence_index") % 2 == 0)
        )
        for batch in (half, rows):
            multi.insert_ignore(t, batch.coalesce(1), partition_by=["episode_id"])
        assert multi.read(t).count() == rows.count()
        assert not one_split(multi.read(t), episode_id=ep)
    for t in ("podcast_dimension", "episode_dimension"):
        shutil.copytree(wh.path(t), multi.path(t))
    for q in QUERIES:
        if q[0] not in EPISODE_QUERIES:
            continue
        want, _, _ = _run(spark, wh, q, ep, et, f"one-file-{q[0]}")
        got, plan, jobs = _run(spark, multi, q, ep, et, f"two-files-{q[0]}")
        assert jobs > 1 and "Exchange" in plan, (q[0], jobs, plan)
        if not EPISODE_QUERIES[q[0]]:
            got, want = sorted(got), sorted(want)
        # float sums may add up in another order under the other plan
        assert [tuple(r) for r in got] == [
            pytest.approx(tuple(r)) for r in want
        ], q[0]


def test_sql_over_registered_views_matches_dataframe(spark, sf_dir):
    """Entry point 3's other face: every warehouse query is equally
    expressible as spark.sql over registered views (SURVEY §3)."""
    from serverless_podcast_etl_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    sql = spark.sql(
        """
        SELECT event_type, count(*) AS n
        FROM events WHERE user_id < 50
        GROUP BY event_type ORDER BY n DESC, event_type
        """
    ).collect()
    from pyspark.sql import functions as F

    from serverless_podcast_etl_spark.sources.tables import load_table

    df = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "event_type")
        .collect()
    )
    assert [(r["event_type"], r["n"]) for r in sql] == [
        (r["event_type"], r["n"]) for r in df
    ]

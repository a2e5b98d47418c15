"""Barrier semantics (SURVEY §5.2.4; src/lambda_5.py:62-68): deliver
k of n chunks → no output; deliver the rest → exactly-once output."""

from __future__ import annotations

from pyspark.sql import functions as F

from serverless_podcast_etl_spark.pipeline.transcripts import (
    incomplete_episodes,
    reduce_transcripts,
)


def _payload(text: str) -> str:
    return (
        '{"results": {"transcripts": [{"transcript": "' + text + '"}]}}'
    )


def test_barrier_holds_then_releases(spark):
    expected = spark.createDataFrame(
        [(1, 3), (2, 2)], "episode_id long, num_chunks int"
    )
    partial = spark.createDataFrame(
        [
            (1, 1, _payload("one")),
            (1, 2, _payload("two")),  # chunk 3 of episode 1 missing
            (2, 1, _payload("alpha")),
            (2, 2, _payload("beta")),
        ],
        "episode_id long, chunk_num int, payload string",
    )
    out = reduce_transcripts(partial, expected)
    rows = {r["episode_id"]: r["transcript"] for r in out.collect()}
    assert rows == {2: "alpha beta"}  # episode 1 held back

    stalled = incomplete_episodes(partial, expected).collect()
    assert [(r["episode_id"], r["arrived_chunks"]) for r in stalled] == [(1, 2)]

    # late chunk arrives → exactly one complete output, in chunk order
    full = partial.union(
        spark.createDataFrame(
            [(1, 3, _payload("three"))],
            "episode_id long, chunk_num int, payload string",
        )
    )
    out2 = reduce_transcripts(full, expected)
    rows2 = {r["episode_id"]: r["transcript"] for r in out2.collect()}
    assert rows2 == {1: "one two three", 2: "alpha beta"}
    assert out2.groupBy("episode_id").count().filter(F.col("count") > 1).count() == 0


def test_duplicate_delivery_in_one_batch_is_transcribed_once(spark, tmp_path):
    """An episode whose audio arrives twice in one batch: each chunk's
    second copy replaces the first, as the reference's chunk_N keys do,
    so the barrier releases the episode with a single transcript and
    run_nlp loads it — instead of holding it back while the monitoring
    view reports nothing."""
    from serverless_podcast_etl_spark.pipeline.runner import (
        run_nlp,
        run_transcription,
    )
    from serverless_podcast_etl_spark.pipeline.transcripts import (
        chunk_audio,
        transcribe_chunks,
    )
    from serverless_podcast_etl_spark.pipeline.warehouse import Warehouse

    from .fixtures import make_audio

    audio = make_audio(spark, episode_ids=[1, 2])
    twice = audio.filter("episode_id = 1").unionByName(audio)

    single = {
        r["episode_id"]: r["transcript"]
        for r in run_transcription(
            Warehouse(spark, str(tmp_path / "once")), audio, chunk_bytes=200
        ).collect()
    }
    wh = Warehouse(spark, str(tmp_path / "twice"))
    transcripts = run_transcription(wh, twice, chunk_bytes=200)
    assert {
        r["episode_id"]: r["transcript"] for r in transcripts.collect()
    } == single
    assert set(single) == {1, 2}

    chunks = chunk_audio(twice, chunk_bytes=200)
    expected = chunks.select("episode_id", "num_chunks").distinct()
    assert incomplete_episodes(transcribe_chunks(chunks), expected).count() == 0

    run_nlp(wh, transcripts)
    loaded = wh.read("sentence_dimension").groupBy("episode_id").count()
    assert {r["episode_id"] for r in loaded.collect()} == {1, 2}


def test_incomplete_episodes_match_what_the_barrier_holds_back(spark):
    """The monitoring view reports exactly the held-back episodes: a
    missing chunk, no chunk at all, and a chunk numbered past the
    expected count are all waiting."""
    expected = spark.createDataFrame(
        [(1, 2), (2, 2), (3, 1), (4, 1)], "episode_id long, num_chunks int"
    )
    arrived = spark.createDataFrame(
        [
            (1, 1, _payload("one")),
            (1, 2, _payload("two")),
            (1, 2, _payload("two")),  # redelivered: still complete
            (2, 1, _payload("alpha")),  # chunk 2 missing
            (4, 1, _payload("x")),
            (4, 2, _payload("y")),  # past the expected count
        ],
        "episode_id long, chunk_num int, payload string",
    )
    released = reduce_transcripts(arrived, expected).collect()
    waiting = incomplete_episodes(arrived, expected).collect()
    assert {r["episode_id"] for r in released} == {1}
    assert {r["episode_id"] for r in waiting} == {2, 3, 4}

"""Golden end-to-end pipeline test (SURVEY §5.2.3): staging fixtures →
all 5 dims; re-run ⇒ zero new rows (the INSERT IGNORE contract)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from serverless_podcast_etl_spark.pipeline.runner import run_full_pipeline
from serverless_podcast_etl_spark.pipeline.warehouse import Warehouse

from .fixtures import make_audio, make_rss_docs


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    wh = Warehouse(spark, root)
    rss = make_rss_docs(spark)
    audio = make_audio(spark, episode_ids=[1, 2, 3], chunk_bytes=200)
    counts = run_full_pipeline(wh, rss, audio, chunk_bytes=200)
    return wh, rss, audio, counts


def test_dimensions_populated(loaded):
    wh, _, _, counts = loaded
    assert counts["podcast_dimension"] == 3
    # 12 episodes, 1 unparseable pubDate still ingests (null date)
    assert counts["episode_dimension"] == 12
    assert counts["time_dimension"] > 0
    assert counts["sentence_dimension"] > 0
    assert counts["entity_dimension"] > 0


def test_fk_integrity(loaded):
    wh, _, _, _ = loaded
    eps = wh.read("episode_dimension")
    pods = wh.read("podcast_dimension")
    dangling = eps.join(pods, "podcast_id", "left_anti")
    assert dangling.count() == 0

    sents = wh.read("sentence_dimension")
    ents = wh.read("entity_dimension")
    dangling_e = ents.join(
        sents.select("sentence_index", "episode_id"),
        on=["sentence_index", "episode_id"],
        how="left_anti",
    )
    assert dangling_e.count() == 0


def test_sentence_index_contiguous(loaded):
    wh, _, _, _ = loaded
    sents = wh.read("sentence_dimension")
    per_ep = sents.groupBy("episode_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("sentence_index").alias("lo"),
        F.max("sentence_index").alias("hi"),
    )
    bad = per_ep.filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1))
    assert bad.count() == 0


def test_unparseable_pubdate_is_null_not_crash(loaded):
    wh, _, _, _ = loaded
    eps = wh.read("episode_dimension")
    assert eps.filter(F.col("episode_release_date").isNull()).count() == 1


def test_rerun_is_noop(loaded, spark):
    wh, rss, audio, _ = loaded
    before = {
        t: wh.read(t).count()
        for t in [
            "time_dimension",
            "podcast_dimension",
            "episode_dimension",
            "sentence_dimension",
            "entity_dimension",
        ]
    }
    counts2 = run_full_pipeline(wh, rss, audio, chunk_bytes=200)
    assert all(v == 0 for v in counts2.values()), counts2
    after = {t: wh.read(t).count() for t in before}
    assert before == after


def test_download_state_written_back(loaded):
    """lambda_3's UPDATE … SET downloaded=TRUE, num_chunks=N: episodes
    that went through transcription are flagged with their chunk count;
    untouched episodes keep the defaults."""
    wh, _, _, _ = loaded
    eps = wh.read("episode_dimension")
    done = eps.filter(F.col("downloaded"))
    assert done.count() == 3  # the 3 audio episodes
    assert done.filter(F.col("num_chunks") <= 0).count() == 0
    untouched = eps.filter(~F.col("downloaded"))
    assert untouched.filter(F.col("num_chunks") != 0).count() == 0


def test_next_undownloaded_episode(loaded, spark):
    from serverless_podcast_etl_spark.pipeline.analytics import (
        next_undownloaded_episode,
    )

    wh, _, _, _ = loaded
    eps = wh.read("episode_dimension")
    pods = wh.read("podcast_dimension")
    title = pods.orderBy("podcast_id").first()["podcast_title"]
    got = next_undownloaded_episode(eps, pods, title).collect()
    assert len(got) == 1
    row = got[0]
    # newest undownloaded episode of that podcast, verified directly
    cand = (
        eps.join(pods.filter(F.col("podcast_title") == title), "podcast_id")
        .filter(~F.col("downloaded"))
        .orderBy(F.desc("episode_release_date"), F.desc("episode_id"))
        .first()
    )
    assert row["episode_id"] == cand["episode_id"]


def test_update_rows_idempotent(spark, tmp_path):
    from serverless_podcast_etl_spark import schemas
    from serverless_podcast_etl_spark.pipeline.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh2"))
    rows = spark.createDataFrame(
        [
            (1, "l1", 1, None, "e1", "d", False, 0),
            (2, "l2", 1, None, "e2", "d", False, 0),
        ],
        schemas.EPISODE_DIM,
    )
    wh.insert_ignore("episode_dimension", rows)
    upd = spark.createDataFrame(
        [(1, True, 7)], "episode_id long, downloaded boolean, num_chunks int"
    )
    assert wh.update_rows("episode_dimension", upd, ["episode_id"]) == 1
    assert wh.update_rows("episode_dimension", upd, ["episode_id"]) == 1  # idempotent
    got = {
        r["episode_id"]: (r["downloaded"], r["num_chunks"])
        for r in wh.read("episode_dimension").collect()
    }
    assert got == {1: (True, 7), 2: (False, 0)}


def test_parse_rss_xml_feeds_the_ingest_path(spark):
    """S5 end-to-end: raw RSS XML strings parse JVM-side (from_xml)
    into the same struct shape the ingest stage consumes; malformed
    XML degrades to null instead of crashing."""
    from serverless_podcast_etl_spark.pipeline.ingest import (
        parse_rss_docs,
        parse_rss_xml,
    )

    xml = (
        "<rss><channel><title>PodX</title><description>D</description>"
        "<item><title>E1</title><description>d1</description>"
        "<pubDate>Mon, 15 May 2023 10:30:00 +0000</pubDate>"
        '<enclosure url="http://x/1.mp3" length="1" type="audio/mpeg"/></item>'
        "<item><title>E2</title><description>d2</description>"
        "<pubDate>not a date</pubDate>"
        '<enclosure url="http://x/2.mp3"/></item>'
        "</channel></rss>"
    )
    df = spark.createDataFrame([(xml,), ("<not-xml",)], "xml string")
    docs = parse_rss_xml(df)
    podcasts, episodes = parse_rss_docs(docs)
    assert [r["podcast_title"] for r in podcasts.collect()] == ["PodX"]
    eps = {r["link"]: r for r in episodes.collect()}
    assert set(eps) == {"http://x/1.mp3", "http://x/2.mp3"}
    assert str(eps["http://x/1.mp3"]["episode_release_date"]) == "2023-05-15"
    assert eps["http://x/2.mp3"]["episode_release_date"] is None  # permissive F4


def test_partitioned_fact_upsert_touches_one_partition(spark, tmp_path):
    """r4 fact-scale mode (VERDICT "what's missing" #1): with
    partition_by=["episode_id"], loading episode 2's update rewrites
    ONLY episode 2's partition — episode 1's files are bit-identical
    afterwards — and re-delivered inserts stay a no-op."""
    from serverless_podcast_etl_spark import schemas
    from serverless_podcast_etl_spark.pipeline.warehouse import Warehouse

    root = tmp_path / "whp"
    wh = Warehouse(spark, str(root))

    def s(sid, text, idx, eid):
        return (sid, text, idx, "NEUTRAL", 0.1, 0.7, 0.1, 0.1, eid)

    batch = spark.createDataFrame(
        [s(1, "a", 0, 1), s(2, "b", 1, 1), s(3, "c", 0, 2)],
        schemas.SENTENCE_DIM,
    )
    part = ["episode_id"]
    assert wh.insert_ignore("sentence_dimension", batch, partition_by=part) == 3
    # idempotency: re-delivery of the same batch appends nothing
    assert wh.insert_ignore("sentence_dimension", batch, partition_by=part) == 0

    def files(eid):
        d = root / "sentence_dimension" / f"episode_id={eid}"
        return sorted(
            f"{p.name}:{p.stat().st_mtime_ns}" for p in d.glob("*.parquet")
        )

    ep1_before, ep2_before = files(1), files(2)
    upd = spark.createDataFrame(
        [(0, 2, "POSITIVE")],
        "sentence_index int, episode_id long, overall_sentiment string",
    )
    assert (
        wh.update_rows(
            "sentence_dimension",
            upd,
            ["sentence_index", "episode_id"],
            partition_by=part,
        )
        == 1
    )
    assert files(1) == ep1_before, "untouched partition must not be rewritten"
    assert files(2) != ep2_before, "touched partition must be rewritten"
    got = {
        (r["episode_id"], r["sentence_index"]): r["overall_sentiment"]
        for r in wh.read("sentence_dimension").collect()
    }
    assert got == {(1, 0): "NEUTRAL", (1, 1): "NEUTRAL", (2, 0): "POSITIVE"}

    # partition_by must be contained in the match/natural keys
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in match keys"):
        wh.update_rows(
            "sentence_dimension", upd, ["sentence_index"], partition_by=part
        )


def test_partition_layout_is_pinned_at_first_write(spark, tmp_path):
    """r5 (r4 VERDICT "do this" #4): a table's layout is committed by
    its first write — a later call with a different partition_by
    raises instead of silently mixing flat files into a
    hive-partitioned dir (or vice versa)."""
    import pytest as _pytest

    from serverless_podcast_etl_spark import schemas
    from serverless_podcast_etl_spark.pipeline.warehouse import Warehouse

    def s(sid, text, idx, eid):
        return (sid, text, idx, "NEUTRAL", 0.1, 0.7, 0.1, 0.1, eid)

    batch = spark.createDataFrame(
        [s(1, "a", 0, 1), s(2, "b", 0, 2)], schemas.SENTENCE_DIM
    )
    more = spark.createDataFrame([s(3, "c", 1, 1)], schemas.SENTENCE_DIM)
    upd = spark.createDataFrame(
        [(0, 1, "POSITIVE")],
        "sentence_index int, episode_id long, overall_sentiment string",
    )

    # partitioned first write → flat append/update refused
    wh = Warehouse(spark, str(tmp_path / "wh_part"))
    wh.insert_ignore("sentence_dimension", batch, partition_by=["episode_id"])
    with _pytest.raises(ValueError, match="on-disk layout"):
        wh.insert_ignore("sentence_dimension", more)
    with _pytest.raises(ValueError, match="on-disk layout"):
        wh.update_rows(
            "sentence_dimension", upd, ["sentence_index", "episode_id"]
        )

    # flat first write → partitioned append refused
    wh2 = Warehouse(spark, str(tmp_path / "wh_flat"))
    wh2.insert_ignore("sentence_dimension", batch)
    with _pytest.raises(ValueError, match="on-disk layout"):
        wh2.insert_ignore(
            "sentence_dimension", more, partition_by=["episode_id"]
        )

    # matching layouts keep working on both tables
    assert (
        wh.insert_ignore(
            "sentence_dimension", more, partition_by=["episode_id"]
        )
        == 1
    )
    assert wh2.insert_ignore("sentence_dimension", more) == 1

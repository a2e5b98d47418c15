"""The warehouse's per-table commit log: crash before commit, commits
seen across instances, two writers racing for one version, and the
files on disk after an update."""

from __future__ import annotations

import os
import sys
import threading

import pytest

from serverless_podcast_etl_spark import schemas
from serverless_podcast_etl_spark.pipeline.warehouse import MAX_ATTEMPTS, Warehouse

SENT = "sentence_dimension"
PART = ["episode_id"]


def _sentences(spark, keys):
    """One sentence row per (episode_id, sentence_index) key."""
    return spark.createDataFrame(
        [
            (100 * e + i, f"e{e}s{i}", i, "NEUTRAL", 0.1, 0.7, 0.1, 0.1, e)
            for e, i in keys
        ],
        schemas.SENTENCE_DIM,
    )


def _keys(wh, table=SENT):
    return sorted(
        (r["episode_id"], r["sentence_index"])
        for r in wh.read(table).select("episode_id", "sentence_index").collect()
    )


def _parquet_on_disk(wh, table):
    base = wh.path(table)
    return sorted(
        os.path.relpath(os.path.join(d, f), base)
        for d, _, files in os.walk(base)
        for f in files
        if f.endswith(".parquet")
    )


@pytest.mark.parametrize("killed", [False, True])
def test_crash_before_commit_keeps_previous_snapshot(spark, tmp_path, monkeypatch, killed):
    """The commit fails after the new files are in the table directory:
    readers keep seeing the previous snapshot, and a re-delivery of the
    batch then holds each row exactly once.  ``killed``: the writer
    dies without cleaning up, so its files stay behind as orphans."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    first = [(1, 0), (1, 1)]
    batch = [(1, 1), (1, 2), (2, 0)]
    assert wh.insert_ignore(SENT, _sentences(spark, first), partition_by=PART) == 2
    committed = _parquet_on_disk(wh, SENT)

    def crash(*args, **kwargs):
        raise RuntimeError("crash between file writes and commit")

    with monkeypatch.context() as m:
        m.setattr(Warehouse, "_commit", crash)
        if killed:
            m.setattr(Warehouse, "_delete", lambda self, table, paths: None)
        with pytest.raises(RuntimeError, match="crash"):
            wh.insert_ignore(SENT, _sentences(spark, batch), partition_by=PART)

    other = Warehouse(spark, wh.root)
    assert _keys(wh) == _keys(other) == first
    on_disk = _parquet_on_disk(wh, SENT)
    if killed:
        assert set(on_disk) > set(committed)
    else:
        assert on_disk == committed

    assert wh.insert_ignore(SENT, _sentences(spark, batch), partition_by=PART) == 2
    assert _keys(wh) == _keys(other) == sorted(set(first) | set(batch))
    assert wh.insert_ignore(SENT, _sentences(spark, batch), partition_by=PART) == 0


def test_crashed_update_keeps_old_rows(spark, tmp_path, monkeypatch):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.insert_ignore(SENT, _sentences(spark, [(1, 0), (2, 0)]), partition_by=PART)
    upd = spark.createDataFrame(
        [(0, 1, "POSITIVE")],
        "sentence_index int, episode_id long, overall_sentiment string",
    )

    def crash(*args, **kwargs):
        raise RuntimeError("crash")

    with monkeypatch.context() as m:
        m.setattr(Warehouse, "_commit", crash)
        with pytest.raises(RuntimeError):
            wh.update_rows(SENT, upd, ["sentence_index", "episode_id"], partition_by=PART)
    got = {r["episode_id"]: r["overall_sentiment"] for r in wh.read(SENT).collect()}
    assert got == {1: "NEUTRAL", 2: "NEUTRAL"}


def test_reads_see_commits_from_another_instance(spark, tmp_path):
    """A dashboard-style reader and a writer on the same root: the
    reader's next ``read`` after the writer's commit sees its rows; a
    repeated ``read`` with no commit in between launches no Spark job
    and returns the DataFrame already opened."""
    root = str(tmp_path / "wh")
    reader, writer = Warehouse(spark, root), Warehouse(spark, root)
    writer.insert_ignore(SENT, _sentences(spark, [(1, 0)]), partition_by=PART)
    assert _keys(reader) == [(1, 0)]

    writer.insert_ignore(SENT, _sentences(spark, [(2, 0), (2, 1)]), partition_by=PART)
    assert _keys(reader) == [(1, 0), (2, 0), (2, 1)]

    sc = spark.sparkContext
    first = reader.read(SENT)
    sc.setJobGroup("warehouse-reread", "repeated reads")
    try:
        again = [reader.read(SENT) for _ in range(3)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert all(df is first for df in again)
    assert sc.statusTracker().getJobIdsForGroup("warehouse-reread") == []


def test_two_writers_race_for_one_version(spark, tmp_path):
    """Writer A reads version 1 and writes its files; before it
    commits, writer B commits version 2.  A's create of version 2 fails,
    A re-runs its anti-join against B's snapshot and commits version 3:
    no row is lost or duplicated."""
    root = str(tmp_path / "wh")
    a, b = Warehouse(spark, root), Warehouse(spark, root)
    a.insert_ignore(SENT, _sentences(spark, [(1, 0)]), partition_by=PART)
    batch_a = [(1, 0), (1, 1), (2, 0)]
    batch_b = [(1, 1), (3, 0)]

    creates = []
    commit = Warehouse._commit

    def racing_commit(table, version, layout, added, removed):
        if not creates:
            assert b.insert_ignore(SENT, _sentences(spark, batch_b), partition_by=PART) == 2
        try:
            commit(a, table, version, layout, added, removed)
        except FileExistsError:
            creates.append((version, "lost"))
            raise
        creates.append((version, "won"))

    a._commit = racing_commit
    assert a.insert_ignore(SENT, _sentences(spark, batch_a), partition_by=PART) == 1
    assert creates == [(2, "lost"), (3, "won")]
    want = sorted({(1, 0)} | set(batch_a) | set(batch_b))
    assert _keys(a) == _keys(b) == want
    assert sorted(os.listdir(os.path.join(root, SENT, "_log"))) == [
        "00000001.json", "00000002.json", "00000003.json"
    ]
    assert _parquet_on_disk(a, SENT) == sorted(a.snapshot(SENT).files)

    # the create itself: the second writer of one version fails and the
    # first writer's entry is left as it was
    with pytest.raises(FileExistsError):
        commit(b, SENT, 3, ("episode_id",), [], [])
    assert b.snapshot(SENT).files == a.snapshot(SENT).files


def test_concurrent_writers_lose_no_row(spark, tmp_path):
    """More writers than cores, each its own ``Warehouse``, insert
    overlapping batches at once: every key lands exactly once.  A writer
    loses at most one race to each other writer, so with no more writers
    than ``MAX_ATTEMPTS`` none runs out of attempts."""
    root = str(tmp_path / "wh")
    Warehouse(spark, root).insert_ignore(
        SENT, _sentences(spark, [(1, 0)]), partition_by=PART
    )
    n = min((os.cpu_count() or 4) + 1, MAX_ATTEMPTS)
    batches = [[(1, 0), (2, i), (2, i + 1)] for i in range(n)]
    appended, errors = [], []

    def write(batch):
        try:
            wh = Warehouse(spark, root)
            appended.append(
                wh.insert_ignore(SENT, _sentences(spark, batch), partition_by=PART)
            )
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        threads = [threading.Thread(target=write, args=(b,)) for b in batches]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    want = sorted({k for b in batches for k in b})
    wh = Warehouse(spark, root)
    assert _keys(wh) == want
    assert sum(appended) == len(want) - 1
    assert _parquet_on_disk(wh, SENT) == sorted(wh.snapshot(SENT).files)


def test_update_rows_leaves_exactly_the_snapshot_on_disk(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    eps = spark.createDataFrame(
        [(i, f"l{i}", 1, None, f"e{i}", "d", False, 0) for i in (1, 2, 3)],
        schemas.EPISODE_DIM,
    )
    wh.insert_ignore("episode_dimension", eps)
    wh.insert_ignore("episode_dimension", eps.limit(0))  # commits nothing
    upd = spark.createDataFrame(
        [(2, True, 5)], "episode_id long, downloaded boolean, num_chunks int"
    )
    assert wh.update_rows("episode_dimension", upd, ["episode_id"]) == 1
    snap = wh.snapshot("episode_dimension")
    assert snap.version == 2
    assert _parquet_on_disk(wh, "episode_dimension") == sorted(snap.files)
    got = {
        r["episode_id"]: (r["downloaded"], r["num_chunks"])
        for r in wh.read("episode_dimension").collect()
    }
    assert got == {1: (False, 0), 2: (True, 5), 3: (False, 0)}

    # partitioned: the touched partition's files are replaced, the rest kept
    wh.insert_ignore(SENT, _sentences(spark, [(1, 0), (2, 0)]), partition_by=PART)
    before = wh.snapshot(SENT).files
    upd = spark.createDataFrame(
        [(0, 2, "POSITIVE")],
        "sentence_index int, episode_id long, overall_sentiment string",
    )
    wh.update_rows(SENT, upd, ["sentence_index", "episode_id"], partition_by=PART)
    after = wh.snapshot(SENT).files
    assert _parquet_on_disk(wh, SENT) == sorted(after)
    kept = {p for p, f in before.items() if f["partition"] == {"episode_id": "1"}}
    assert kept < set(after) and not (set(before) - kept) & set(after)
    assert sum(f["rows"] for f in after.values()) == 2


def test_concurrent_ingests_assign_unique_ids(spark, tmp_path):
    """Two ``ingest_metadata`` calls on two ``Warehouse`` instances,
    with A's podcast commit losing the race to B's whole ingest: A
    re-ranks its new podcasts against B's snapshot, so every podcast
    and episode gets its own id and every episode's ``podcast_id``
    names the podcast of its feed."""
    from pyspark.sql import functions as F

    from serverless_podcast_etl_spark.pipeline.ingest import ingest_metadata

    from .fixtures import make_rss_docs

    docs = make_rss_docs(spark, n_podcasts=6)
    title = F.col("rss.channel.title")
    docs_a = docs.filter(title.isin([f"Podcast {p}" for p in range(4)]))
    docs_b = docs.filter(title.isin([f"Podcast {p}" for p in range(3, 6)]))
    feed_of = {
        r["link"]: r["title"]
        for r in docs.select(
            title.alias("title"),
            F.explode("rss.channel.item.enclosure.url").alias("link"),
        ).collect()
    }

    root = str(tmp_path / "wh")
    a, b = Warehouse(spark, root), Warehouse(spark, root)
    commit = Warehouse._commit
    raced = []

    def racing_commit(table, version, layout, added, removed):
        if table == "podcast_dimension" and not raced:
            raced.append(ingest_metadata(b, docs_b))
        commit(a, table, version, layout, added, removed)

    a._commit = racing_commit
    ingest_metadata(a, docs_a)
    assert raced

    pods = {
        r["podcast_title"]: r["podcast_id"]
        for r in a.read("podcast_dimension").collect()
    }
    assert sorted(pods.values()) == [1, 2, 3, 4, 5, 6]
    assert sorted(pods[f"Podcast {p}"] for p in (3, 4, 5)) == [1, 2, 3]
    assert sorted(pods[f"Podcast {p}"] for p in (0, 1, 2)) == [4, 5, 6]

    eps = a.read("episode_dimension").collect()
    assert len(eps) == 24
    assert len({r["episode_id"] for r in eps}) == 24
    resolved = [
        (r["link"], r["podcast_title"])
        for r in a.read("episode_dimension")
        .join(a.read("podcast_dimension"), "podcast_id")
        .collect()
    ]
    assert sorted(resolved) == sorted(feed_of.items())

    for wh, feeds in ((a, docs_a), (b, docs_b)):
        assert set(ingest_metadata(wh, feeds).values()) == {0}

"""Round-7 advisor fixes, pinned: snapshot_diff NULL-text presence
semantics and case-insensitive tracking-param stripping."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from serverless_podcast_etl_spark.functions.urls import canonical_url
from serverless_podcast_etl_spark.operators.dedup import snapshot_diff


def test_snapshot_diff_null_text_presence(spark):
    """Presence comes from join-side markers, not md5 nullity: NULL
    text on one side of a present-in-both doc is 'changed', a doc
    with NULL text on BOTH sides is unchanged (not emitted), and
    added/removed classification ignores text nullity entirely."""
    old = spark.createDataFrame(
        [
            Row(doc_id=1, text=None),      # NULL -> text : changed
            Row(doc_id=2, text="x"),       # text -> NULL : changed
            Row(doc_id=3, text=None),      # NULL -> NULL : unchanged
            Row(doc_id=4, text="a"),       # only old     : removed
            Row(doc_id=6, text="same"),    # same text    : unchanged
        ],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [
            Row(doc_id=1, text="x"),
            Row(doc_id=2, text=None),
            Row(doc_id=3, text=None),
            Row(doc_id=5, text=None),      # only new (NULL!) : added
            Row(doc_id=6, text="same"),
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(
            old, new, id_col="doc_id", text_col="text"
        ).collect()
    }
    assert got == {1: "changed", 2: "changed", 4: "removed", 5: "added"}


def test_canonical_url_uppercase_tracking_params(spark):
    """UTM_SOURCE=a / FBCLID=x are tracking params regardless of
    case — the same emitters that upper-case hosts upper-case param
    names; values keep their case."""
    df = spark.createDataFrame(
        [
            ("https://ex.com/p?UTM_SOURCE=a&z=1",),
            ("https://ex.com/p?FBCLID=x&Gclid=y",),
            ("https://ex.com/p?REF=r&Refresh=1",),  # Refresh is NOT ref
        ],
        "url string",
    )
    got = [
        r["c"]
        for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [
        "https://ex.com/p?z=1",
        "https://ex.com/p",
        "https://ex.com/p?Refresh=1",
    ]

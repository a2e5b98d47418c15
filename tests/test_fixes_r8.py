"""Round-8 advisor fixes, pinned: the tracking-param pattern is now
valid Python-`re` syntax (flag at pattern start) with unchanged
Java/RE2 semantics."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from serverless_podcast_etl_spark.functions.urls import (
    TRACKING_PARAM_PATTERN,
    canonical_url,
)


def test_tracking_param_pattern_is_valid_python_re():
    """(?i) must sit at the very start: Python re 3.11+ raises on
    global flags mid-pattern, and this constant is exported for
    Python-side reuse.  Semantics pinned: case-insensitive on the
    param NAME, anchored at the string start."""
    rx = re.compile(TRACKING_PARAM_PATTERN)  # raises before the fix
    assert rx.match("utm_source=a")
    assert rx.match("UTM_SOURCE=a")
    assert rx.match("FbClId=x")
    assert rx.match("ref=hn")
    assert not rx.match("xref=hn")  # anchored — not a substring match
    assert not rx.match("page=2")


def test_canonical_url_unchanged_by_flag_move(spark):
    """The flag move is purely syntactic for Spark's Java regex: the
    canonical forms r7 certified (q79) must come out identical."""
    df = spark.createDataFrame(
        [
            ("HTTPS://WWW.Example.COM/Path/?UTM_SOURCE=x&b=2&a=1#frag",),
            ("http://example.com/path?gclid=1",),
            ("not-a-url",),
        ],
        "url string",
    )
    got = [
        r["canon"]
        for r in df.select(canonical_url(F.col("url")).alias("canon"))
        .collect()
    ]
    assert got == [
        "https://example.com/Path?a=1&b=2",
        "http://example.com/path",
        None,
    ]

"""URL-fetch seam (S5/S8 front, r8 VERDICT "do this" #8): the golden
pipeline run FROM URLS — feeds fetched + parsed, audio fetched +
chunked — lands byte-identical warehouse tables to the staged-input
run.  file:// is the deterministic local transport (stdlib urllib, no
fake), mirroring the reference's live requests.get at
``/root/reference/src/lambda_2.py:168-171`` / ``src/lambda_3.py:84-88``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from serverless_podcast_etl_spark import schemas
from serverless_podcast_etl_spark.pipeline.ingest import fetch_rss_docs
from serverless_podcast_etl_spark.pipeline.runner import run_full_pipeline
from serverless_podcast_etl_spark.pipeline.warehouse import Warehouse
from serverless_podcast_etl_spark.sources.fetch import fetch_urls

# -- one logical corpus, rendered two ways ---------------------------------

_PODCASTS = [
    (
        "Podcast A",
        "About podcast A",
        [
            ("Ep 0 of A", "alpha beta gamma", "Mon, 01 May 2023 10:30:00 +0000", "https://example.com/a/e0.mp3"),
            ("Ep 1 of A", "delta epsilon", "not-a-date", "https://example.com/a/e1.mp3"),
        ],
    ),
    (
        "Podcast B",
        "About podcast B",
        [
            ("Ep 0 of B", "zeta eta theta", "Tue, 02 May 2023 11:00:00 +0000", "https://example.com/b/e0.mp3"),
        ],
    ),
]

_AUDIO = {
    1: ("First episode words here. More words follow now." * 4).encode(),
    2: ("Second episode content text. Still more content." * 4).encode(),
}


def _staged_rss(spark):
    rows = [
        {
            "rss": {
                "channel": {
                    "title": title,
                    "description": desc,
                    "item": [
                        {
                            "title": t,
                            "description": d,
                            "pubDate": pub,
                            "enclosure": {"url": url},
                        }
                        for t, d, pub, url in items
                    ],
                }
            }
        }
        for title, desc, items in _PODCASTS
    ]
    return spark.createDataFrame(rows, schemas.RSS_DOC)


def _render_rss(title, desc, items) -> str:
    parts = [f"<rss><channel><title>{title}</title>", f"<description>{desc}</description>"]
    for t, d, pub, url in items:
        parts.append(
            f"<item><title>{t}</title><description>{d}</description>"
            f"<pubDate>{pub}</pubDate>"
            f'<enclosure url="{url}" length="1" type="audio/mpeg"/></item>'
        )
    parts.append("</channel></rss>")
    return "".join(parts)


def test_fetch_urls_file_transport_and_error_rows(spark, tmp_path):
    (tmp_path / "ok.txt").write_bytes(b"payload")
    urls = spark.createDataFrame(
        [
            (1, f"file://{tmp_path}/ok.txt"),
            (2, f"file://{tmp_path}/missing.txt"),
            (3, None),
        ],
        "id long, url string",
    )
    rows = {r["id"]: r for r in fetch_urls(urls, "url").collect()}
    assert bytes(rows[1]["body"]) == b"payload"
    assert rows[1]["fetch_error"] is None
    assert rows[2]["body"] is None and "Error" in rows[2]["fetch_error"]
    assert rows[3]["body"] is None and "null" in rows[3]["fetch_error"]


def _flaky_marker(url: str) -> str:
    """Marker path for ``_flaky_transport``'s per-URL attempt state:
    lives NEXT TO the fetched file (i.e. inside the test's unique
    ``tmp_path``), so state never leaks across runs via the shared
    system tempdir and cleanup never touches files the test does not
    own."""
    import hashlib
    import os
    from urllib.parse import urlparse

    return os.path.join(
        os.path.dirname(urlparse(url).path),
        "flaky_" + hashlib.md5(url.encode()).hexdigest(),
    )


def _flaky_transport(url: str) -> bytes:
    """Fails each URL's first attempt, succeeds after — the marker
    file carries per-URL attempt state across retries (same worker
    process within one mapInPandas batch).  Top-level for pickling."""
    import os
    from urllib.request import urlopen

    marker = _flaky_marker(url)
    if not os.path.exists(marker):
        open(marker, "w").close()
        raise TimeoutError("transient fault (attempt 1)")
    with urlopen(url) as resp:
        return resp.read()


def test_fetch_urls_retries_transient_faults(spark, tmp_path):
    (tmp_path / "ok.txt").write_bytes(b"payload")
    urls = spark.createDataFrame(
        [(1, f"file://{tmp_path}/ok.txt")], "id long, url string"
    )
    # one attempt: the transient fault IS the result
    url = f"file://{tmp_path}/ok.txt"
    r1 = fetch_urls(urls, "url", transport=_flaky_transport).collect()[0]
    assert r1["body"] is None and "TimeoutError" in r1["fetch_error"]
    # marker now exists; reset exactly this URL's marker so the retry
    # path is what recovers (no glob over shared directories)
    import os

    os.remove(_flaky_marker(url))
    r2 = fetch_urls(
        urls, "url", transport=_flaky_transport, max_attempts=2
    ).collect()[0]
    assert bytes(r2["body"]) == b"payload" and r2["fetch_error"] is None

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_attempts"):
        fetch_urls(urls, "url", max_attempts=0)


def _timeout_echo_transport(url: str, timeout: float = 30.0) -> bytes:
    """Echoes the timeout it was handed — proves fetch_urls' kwarg
    forwarding without real sockets.  Top-level for pickling."""
    return repr(timeout).encode()


def test_fetch_urls_forwards_timeout_kwarg(spark):
    urls = spark.createDataFrame([(1, "x://any")], "id long, url string")
    # explicit timeout reaches the transport via functools.partial
    r = fetch_urls(
        urls, "url", transport=_timeout_echo_transport, timeout=2.5
    ).collect()[0]
    assert bytes(r["body"]) == b"2.5" and r["fetch_error"] is None
    # timeout=None (default): transport called bare, keeps its own default
    r = fetch_urls(urls, "url", transport=_timeout_echo_transport).collect()[0]
    assert bytes(r["body"]) == b"30.0"


def test_golden_pipeline_from_urls_matches_staged(spark, tmp_path):
    # ---- staged run: structs + binary frames straight in ----------------
    wh_staged = Warehouse(spark, str(tmp_path / "wh_staged"))
    audio_staged = spark.createDataFrame(
        sorted(_AUDIO.items()), "episode_id long, content binary"
    )
    run_full_pipeline(wh_staged, _staged_rss(spark), audio_staged, chunk_bytes=64)

    # ---- fetched run: the same corpus behind file:// URLs ---------------
    for i, (title, desc, items) in enumerate(_PODCASTS):
        (tmp_path / f"feed{i}.xml").write_text(_render_rss(title, desc, items))
    (tmp_path / "broken.xml").write_text("<not-xml")  # malformed feed
    feeds = spark.createDataFrame(
        [
            (f"file://{tmp_path}/feed0.xml",),
            (f"file://{tmp_path}/feed1.xml",),
            (f"file://{tmp_path}/broken.xml",),  # parses to null struct
            (f"file://{tmp_path}/gone.xml",),  # fetch error -> null struct
        ],
        "feed string",
    )
    for eid, payload in _AUDIO.items():
        (tmp_path / f"audio{eid}.mp3").write_bytes(payload)
    audio_urls = spark.createDataFrame(
        [(eid, f"file://{tmp_path}/audio{eid}.mp3") for eid in _AUDIO],
        "episode_id long, url string",
    )

    wh_fetched = Warehouse(spark, str(tmp_path / "wh_fetched"))
    rss_fetched = fetch_rss_docs(feeds)
    audio_fetched = (
        fetch_urls(audio_urls, "url")
        .filter(F.col("fetch_error").isNull())
        .select("episode_id", F.col("body").alias("content"))
    )
    run_full_pipeline(wh_fetched, rss_fetched, audio_fetched, chunk_bytes=64)

    # ---- same tables out -------------------------------------------------
    for table in (
        "time_dimension",
        "podcast_dimension",
        "episode_dimension",
        "sentence_dimension",
        "entity_dimension",
    ):
        a = sorted(
            tuple(r) for r in wh_staged.read(table).collect()
        )
        b = sorted(
            tuple(r) for r in wh_fetched.read(table).collect()
        )
        assert a == b, f"{table} diverged between staged and fetched runs"

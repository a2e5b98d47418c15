"""Structured Streaming tier (SURVEY §2.9): AvailableNow drains over
staging dirs — event-time windows and the stateless chunker — each
pinned against its batch twin."""

from __future__ import annotations

import os


def test_windowed_event_counts_streaming_matches_batch(spark, tmp_path):
    """The same windowed-agg expression runs as a watermarked stream
    and as a batch query; draining the staged events produces the
    batch answer (complete mode: all windows emitted)."""
    from serverless_podcast_etl_spark.streaming.windowed import (
        windowed_event_counts,
    )

    src = str(tmp_path / "events")
    rows = [
        (1, "2024-01-01 00:01:00", "click", 2.0),
        (2, "2024-01-01 00:03:30", "click", 1.0),
        (3, "2024-01-01 00:07:10", "view", 4.5),
        (4, "2024-01-01 00:12:00", "click", 0.5),
    ]
    batch_df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", __import__("pyspark").sql.functions.to_timestamp("ts"))
    batch_df.write.parquet(src)

    expected = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in windowed_event_counts(batch_df).collect()
    }

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        ).parquet(src)
    )
    agg = windowed_event_counts(stream)
    assert agg.isStreaming
    got_rows: list = []
    q = (
        agg.writeStream.foreachBatch(lambda df, _e: got_rows.extend(df.collect()))
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in got_rows
    }
    assert got == expected
    # 00:00 click(x2), 00:05 view, 00:10 click
    assert len(expected) == 3


def test_session_window_boundary_gap_merges(spark):
    """Boundary semantics, verified empirically: Spark MERGES session
    windows whose spans touch, so an event landing EXACTLY ``gap``
    after the previous one joins the SAME session — only a strictly
    larger gap opens a new one.  This is the boundary the q40 oracle
    encodes with its strictly-> gap condition."""
    import datetime as dt

    from serverless_podcast_etl_spark.streaming.windowed import (
        sessionized_event_stats,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: second event exactly 30 min later -> SAME session
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(minutes=30), 2.0),
        # user 2: second event 1 s past the gap -> two sessions
        (2, t0, 4.0),
        (2, t0 + dt.timedelta(minutes=30, seconds=1), 8.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sessionized_event_stats(df)
    per_user = {}
    for r in out.collect():
        per_user.setdefault(r["user_id"], []).append(
            (str(r["session_start"]), r["n_events"], r["total_value"])
        )
    assert len(per_user[1]) == 1
    assert per_user[1][0][1:] == (2, 3.0)
    assert len(per_user[2]) == 2
    assert sorted(n for _, n, _ in per_user[2]) == [1, 1]


def test_chunk_token_windows_streams_match_batch(spark, tmp_path):
    """The r11 chunker is stateless (in-row sequence + posexplode), so
    it applies to a streaming frame unchanged — chunks from the
    drained stream equal the batch operator's rows exactly."""
    from serverless_podcast_etl_spark.operators.chunking import (
        chunk_token_windows,
    )

    rows = [
        (1, "a b c d e f g h i j k"),
        (2, "one two three"),
        (3, "   "),
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(rows[:2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows[2:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    chunked = chunk_token_windows(
        stream, "text", "doc_id", window=4, stride=3
    )
    assert chunked.isStreaming
    got: list = []
    q = (
        chunked.writeStream.foreachBatch(
            lambda df, _e: got.extend(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batch = chunk_token_windows(
        spark.read.parquet(src), "text", "doc_id", window=4, stride=3
    ).collect()
    key = lambda r: tuple(sorted(r.asDict().items()))  # noqa: E731
    assert len(got) > 0
    assert sorted(map(key, batch)) == sorted(map(key, got))

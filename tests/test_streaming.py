"""Structured Streaming tier (SURVEY §2.9): AvailableNow drains over
staging dirs — event-time windows, stream dedup, the curation gate and
near-dup admission — each pinned against its batch twin."""

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
    agg = windowed_event_counts(stream, watermark="10 minutes")
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
    out = sessionized_event_stats(df, gap="30 minutes")
    per_user = {}
    for r in out.collect():
        per_user.setdefault(r["user_id"], []).append(
            (str(r["session_start"]), r["n_events"], r["total_value"])
        )
    assert len(per_user[1]) == 1
    assert per_user[1][0][1:] == (2, 3.0)
    assert len(per_user[2]) == 2
    assert sorted(n for _, n, _ in per_user[2]) == [1, 1]


def test_stream_dedup_exact_bounded_state(spark, tmp_path):
    """Duplicate keys delivered across separate files (micro-batches)
    within the watermark delay must emit exactly one row each; batch
    mode degrades to a global dropDuplicates."""
    import datetime as dt
    import os

    from serverless_podcast_etl_spark.streaming.dedup import stream_dedup_exact

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    f1 = spark.createDataFrame(
        [(1, t0, "a"), (2, t0, "b"), (1, t0, "a-dup-same-batch")],
        "k long, ts timestamp, v string",
    )
    f2 = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=1), "a-dup-next-batch"), (3, t0, "c")],
        "k long, ts timestamp, v string",
    )
    f1.coalesce(1).write.mode("append").parquet(src)
    f2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("k long, ts timestamp, v string").parquet(src)
    deduped = stream_dedup_exact(stream, ["k"], ts_col="ts", delay="10 minutes")
    assert deduped.isStreaming
    got: list = []
    q = (
        deduped.writeStream.foreachBatch(lambda df, _e: got.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    keys = sorted(r["k"] for r in got)
    assert keys == [1, 2, 3]  # each key exactly once across batches

    # batch fallback: global dedup
    batch = spark.read.parquet(src)
    assert stream_dedup_exact(batch, ["k"]).count() == 3


def test_curate_stream_gates_dedups_and_redacts(spark, tmp_path):
    """The streaming ingest gate drops re-delivered and low-quality
    documents and redacts PII in survivors; the same call on a batch
    frame produces identical rows (stateless stages + batch-degrading
    dedup)."""
    import datetime as dt
    import os

    from serverless_podcast_etl_spark.streaming.curation import curate_stream

    good = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away to the hills mail me at fox@example.com")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, good),
        (2, t0, "too short"),                       # fails min_tokens/chars
        (3, t0 + dt.timedelta(minutes=1), good),    # exact re-delivery
    ]
    schema = "doc_id long, ts timestamp, text string"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(rows[:2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows[2:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    curated = curate_stream(stream, "text", "doc_id", ts_col="ts")
    assert curated.isStreaming
    got: list = []
    q = (
        curated.writeStream.foreachBatch(lambda df, _e: got.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(got) == 1                   # doc2 gated; dup pair -> one
    # dedup guarantees ONE survivor per digest, not which one (within
    # a micro-batch the kept row is arbitrary)
    assert got[0]["doc_id"] in (1, 3)
    assert "<EMAIL>" in got[0]["text_redacted"]
    assert got[0]["n_emails"] == 1
    assert "text" not in curated.columns

    batch = curate_stream(
        spark.read.parquet(src), "text", "doc_id", ts_col="ts"
    ).collect()
    # batch parity on the content-determined fields (survivor identity
    # is arbitrary on both sides)
    content = lambda r: tuple(  # noqa: E731
        v for k, v in r.asDict().items() if k not in ("doc_id", "ts")
    )
    assert sorted(map(content, batch)) == sorted(map(content, got))


def test_streaming_admission_matches_batch_gate(spark, tmp_path):
    """The foreachBatch near-dup admission gate admits/rejects exactly
    what the batch q76 operator decides, across micro-batches, with
    rejected docs routed to the audit sink."""
    import os

    from serverless_podcast_etl_spark.operators.dedup import (
        incremental_neardup_admission,
    )
    from serverless_podcast_etl_spark.streaming.admission import (
        admission_batch_fn,
    )

    base = " ".join(f"t{i}" for i in range(30))
    fresh = " ".join(f"u{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, base), (2, " ".join(f"v{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    arrivals = [
        (101, fresh),            # no corpus match -> admitted
        (102, base + " tail"),   # clone of corpus doc 1 -> rejected
        (103, fresh + " x"),     # near-dups 101 but NOT corpus -> admitted
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    # two files -> two micro-batches under maxFilesPerTrigger=1
    spark.createDataFrame(arrivals[:2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(arrivals[2:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    admitted: list = []
    rejected: list = []
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    fn = admission_batch_fn(
        corpus,
        text_col="text",
        id_col="doc_id",
        sink=lambda df, _e: admitted.extend(df.collect()),
        rejected_sink=lambda df, _e: rejected.extend(df.collect()),
        n=3,
        num_hashes=8,
        bands=4,
        verify_threshold=0.3,
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r["doc_id"] for r in admitted) == [101, 103]
    assert [r["doc_id"] for r in rejected] == [102]
    assert all(r["n_matches"] == 0 for r in admitted)
    assert rejected[0]["n_matches"] >= 1
    assert "text" in admitted[0].asDict()  # original columns preserved

    # batch parity: same decisions from the batch operator directly
    batch = incremental_neardup_admission(
        spark.read.parquet(src), corpus, text_col="text", id_col="doc_id",
        n=3, num_hashes=8, bands=4, verify_threshold=0.3,
    ).collect()
    batch_admitted = sorted(
        r["doc_id"] for r in batch if r["admitted"] == 1
    )
    assert batch_admitted == sorted(r["doc_id"] for r in admitted)


def test_streaming_admission_restart_processes_only_new_files(spark, tmp_path):
    """Exactly-once admission across restarts: a second AvailableNow
    drain with the same checkpoint sees only files staged after the
    first drain — already-admitted documents are not re-offered to the
    sink (the checkpointed-source-offset contract the gate relies on
    instead of its own state)."""
    import os

    from serverless_podcast_etl_spark.streaming.admission import (
        admission_batch_fn,
    )

    fresh_a = " ".join(f"a{i}" for i in range(30))
    fresh_b = " ".join(f"b{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, " ".join(f"c{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    schema = "doc_id long, text string"
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    admitted: list = []
    fn = admission_batch_fn(
        corpus, text_col="text", id_col="doc_id",
        sink=lambda df, _e: admitted.extend(
            r["doc_id"] for r in df.select("doc_id").collect()
        ),
        verify_threshold=0.3,
    )

    def drain():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([(201, fresh_a)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert admitted == [201]
    # restart with a new file staged: only the new doc flows
    spark.createDataFrame([(202, fresh_b)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert admitted == [201, 202]


def test_curate_stream_vocab_oov_tier_matches_batch(spark, tmp_path):
    """The r10 vocabulary-OOV tier: a vocabulary fit OFFLINE on a
    reference corpus gates streamed documents statelessly; the same
    call on a batch frame produces identical rows, and the scores
    agree with the batch q102 operator."""
    import os

    from serverless_podcast_etl_spark.functions.textstats import (
        build_vocabulary,
        vocab_oov_scores,
    )
    from serverless_podcast_etl_spark.streaming.curation import curate_stream

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away to the hills near the old stone bridge")
    junk = ("zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii "
            "hh gg ff ee dd cc bb az by cx dw ev fu gt hs ir jq kp "
            "lo mn nm ol pk qj ri sh tg uf ve wd xc yb za ab bc cd")
    rows = [(1, base), (2, junk), (3, base + " extra words beyond")]
    schema = "doc_id long, text string"
    reference = spark.createDataFrame(rows, schema)
    vocab = build_vocabulary(reference, "text", 30)

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(rows[:2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows[2:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    curated = curate_stream(
        stream, "text", "doc_id", vocabulary=vocab, max_oov_rate=0.5
    )
    assert curated.isStreaming
    got: list = []
    q = (
        curated.writeStream.foreachBatch(
            lambda df, _e: got.extend(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the junk doc is OOV-heavy under a vocab dominated by base's
    # repeated tokens and is dropped; both base docs survive
    assert sorted(r["doc_id"] for r in got) == [1, 3]
    batch = curate_stream(
        spark.read.parquet(src), "text", "doc_id",
        vocabulary=vocab, max_oov_rate=0.5,
    ).collect()
    key = lambda r: tuple(sorted(r.asDict().items()))  # noqa: E731
    assert sorted(map(key, batch)) == sorted(map(key, got))
    # tier scores == the batch q102 operator's (shared expressions)
    q102 = {
        r["doc_id"]: (r["oov_tokens"], r["oov_rate"])
        for r in vocab_oov_scores(
            spark.read.parquet(src), "text", "doc_id", vocab_size=30
        ).collect()
    }
    for r in got:
        assert (r["oov_tokens"], r["oov_rate"]) == q102[r["doc_id"]]


def test_chunk_token_windows_streams_match_batch(spark, tmp_path):
    """The r11 chunker is stateless (in-row sequence + posexplode), so
    it applies to a streaming frame unchanged — chunks from the
    drained stream equal the batch operator's rows exactly."""
    import os

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


def test_curate_stream_encoding_tier_matches_batch(spark, tmp_path):
    """The r12 encoding-hygiene tier: U+FFFD drops unconditionally,
    mojibake-heavy text drops on rate, a lone control char in long
    text survives below the threshold and carries its counts; the
    same call on a batch frame produces identical rows, and the
    counts agree with the batch q116 scorer's expressions."""
    import os

    from serverless_podcast_etl_spark.functions.textstats import (
        encoding_anomaly_scores,
    )
    from serverless_podcast_etl_spark.streaming.curation import curate_stream

    long_tail = ("the quick brown fox jumps over the lazy dog near "
                 "the old stone bridge and the river bends away")
    rows = [
        (1, long_tail),                      # clean — survives
        (2, long_tail + " bad � byte"),  # U+FFFD — dropped
        (3, "cafÃ© naÃ¯ve rÃ©sumÃ© " * 8),   # mojibake-heavy — dropped
        (4, long_tail + " \x07"),            # 1 ctl char / >100 — survives
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
    curated = curate_stream(
        stream, "text", "doc_id",
        min_chars=20, min_tokens=5, max_punct_ratio=0.5,
        max_anomaly_rate=0.02,
    )
    assert curated.isStreaming
    got: list = []
    q = (
        curated.writeStream.foreachBatch(
            lambda df, _e: got.extend(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r["doc_id"] for r in got) == [1, 4]
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[4]["control_chars"] == 1
    assert by_id[1]["anomaly_rate"] == 0.0
    batch = curate_stream(
        spark.read.parquet(src), "text", "doc_id",
        min_chars=20, min_tokens=5, max_punct_ratio=0.5,
        max_anomaly_rate=0.02,
    ).collect()
    key = lambda r: tuple(sorted(r.asDict().items()))  # noqa: E731
    assert sorted(map(key, batch)) == sorted(map(key, got))
    # tier counts == the batch q116 scorer's (shared expressions)
    q116 = {
        r["doc_id"]: (
            r["replacement_chars"], r["control_chars"],
            r["mojibake_pairs"], r["anomaly_rate"],
        )
        for r in encoding_anomaly_scores(
            spark.read.parquet(src), "text", "doc_id"
        ).collect()
    }
    for r in got:
        assert (
            r["replacement_chars"], r["control_chars"],
            r["mojibake_pairs"], r["anomaly_rate"],
        ) == q116[r["doc_id"]]

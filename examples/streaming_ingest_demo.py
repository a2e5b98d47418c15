"""Runnable streaming-ingest demo: file arrivals → curation gate →
near-dup admission → warehouse.

Usage:  python examples/streaming_ingest_demo.py [work_dir]

Stages two "arrival" batches of documents into a directory, then
drains them with an AvailableNow file stream through the full ingest
gate a training-data pipeline runs at the edge:

1. ``curate_stream`` — bounded-state exact dedup (re-deliveries),
   encoding-hygiene gate (the q116 scoring as an ingest tier — U+FFFD
   or mojibake-heavy text dies before any tokenizer), quality gate,
   vocabulary-OOV gate (fit OFFLINE via ``build_vocabulary`` on a
   trusted reference corpus — the q102 scoring as an ingest tier),
   PII redaction (streaming/curation.py);
2. ``admission_batch_fn`` — per-micro-batch near-dup check against a
   static corpus (streaming/admission.py, the operator q76
   certifies);
3. ``dedup_insert`` + parquet append — idempotent sink (the A7
   INSERT IGNORE contract).

Every stage is a tested engine component; this file only wires them.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from serverless_podcast_etl_spark.operators.aggregates import (  # noqa: E402
    dedup_insert,
)
from serverless_podcast_etl_spark.session import get_spark  # noqa: E402
from serverless_podcast_etl_spark.streaming.admission import (  # noqa: E402
    admission_batch_fn,
)
from serverless_podcast_etl_spark.functions.textstats import (  # noqa: E402
    build_vocabulary,
)
from serverless_podcast_etl_spark.streaming.curation import (  # noqa: E402
    curate_stream,
)


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="ing_")
    spark = get_spark(app_name="streaming-ingest-demo", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    good = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away to the hills mail me at fox@example.com")
    fresh = ("a completely different well formed document about the "
             "weather in the mountains and the long walk home after "
             "the storm had passed over the quiet valley")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    # the existing corpus the gate protects (near-dups of it are
    # rejected); stored post-redaction — the same gate wrote it, so
    # its text column is the redacted one the stream compares against
    corpus = spark.createDataFrame(
        [(1, good.replace("fox@example.com", "<EMAIL>")),
         (2, "an unrelated seed document " * 5)],
        "doc_id long, text_redacted string",
    )

    # the OOV tier's vocabulary is fit OFFLINE on a trusted reference
    # corpus (a stream cannot fit a global vocabulary online) — here
    # the stored corpus plus one in-domain reference document, so
    # genuinely fresh in-domain material scores low-OOV while garbled
    # text scores ~1.0
    reference = corpus.select(
        F.col("text_redacted").alias("text")
    ).union(spark.createDataFrame([(fresh,)], "text string"))
    vocabulary = build_vocabulary(reference, "text", vocab_size=64)

    # stage two arrival files: a re-delivery, junk, garbled text, a
    # corpus clone and genuinely new material
    src = os.path.join(root, "arrivals")
    os.makedirs(src, exist_ok=True)
    schema = "doc_id long, ts timestamp, text string"
    garbled = ("zqv xklop brrn vwqt jjfo pltm qqrs wvzx mnnb ghrt "
               "skpo dlvn werb ploq")  # survives the quality gate,
    #                                    ~1.0 OOV vs the vocabulary
    batch1 = [(101, t0, fresh), (102, t0, "too short")]
    # in-domain text a decoder partially gave up on: passes quality
    # AND OOV, but carries a U+FFFD — the q116 encoding tier (r12)
    # drops it unconditionally before any tokenizer-based gate
    corrupt = fresh + " trailing �"
    batch2 = [
        (103, t0 + dt.timedelta(minutes=1), fresh),       # re-delivery
        (104, t0 + dt.timedelta(minutes=1), good + " !"),  # corpus clone
        (105, t0 + dt.timedelta(minutes=1), garbled),      # OOV-gated
        (106, t0 + dt.timedelta(minutes=1), corrupt),      # encoding-gated
    ]
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = os.path.join(root, "warehouse", "ingested_documents")
    admitted_log: list = []
    rejected_log: list = []

    def sink(df, epoch):
        admitted_log.extend(r["doc_id"] for r in df.select("doc_id").collect())
        incoming = df.select("doc_id", F.col("text_redacted").alias("text"))
        if os.path.exists(store):
            existing = spark.read.parquet(store)
            incoming = dedup_insert(existing, incoming, keys=["doc_id"])
        incoming.write.mode("append").parquet(store)

    gate = admission_batch_fn(
        corpus,
        text_col="text_redacted",
        id_col="doc_id",
        sink=sink,
        rejected_sink=lambda df, _e: rejected_log.extend(
            r["doc_id"] for r in df.select("doc_id").collect()
        ),
        verify_threshold=0.3,
    )

    stream = spark.readStream.schema(schema).parquet(src)
    curated = curate_stream(
        stream, "text", "doc_id", ts_col="ts",
        vocabulary=vocabulary, max_oov_rate=0.5,
        max_anomaly_rate=0.02,
    )
    q = (
        curated.writeStream.foreachBatch(gate)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    print(f"admitted: {sorted(admitted_log)}")
    print(f"rejected (near-dup of corpus): {sorted(rejected_log)}")
    gated_out = {105} - set(admitted_log) - set(rejected_log)
    print(f"OOV-gated before admission: {sorted(gated_out)}")
    enc_gated = {106} - set(admitted_log) - set(rejected_log)
    print(f"encoding-gated before admission: {sorted(enc_gated)}")
    assert enc_gated == {106}, "U+FFFD doc must die at the encoding tier"
    print(f"warehouse rows: {spark.read.parquet(store).count()}")
    spark.stop()


if __name__ == "__main__":
    main()

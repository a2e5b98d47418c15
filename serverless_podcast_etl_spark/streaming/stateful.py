"""Stateful streaming barrier via applyInPandasWithState.

The reference's reducer (src/lambda_5.py:62-68) re-fires on every chunk
arrival and early-returns until all ``num_chunks`` chunks are present —
a keyed completion barrier with no watermark and no timeout.  The
batch form (``transcripts.reduce_transcripts``) re-scans every staged
chunk; this module is the streaming-NATIVE formulation: the arrived
chunks live in Spark's state store (checkpointed, survives restarts),
so each trigger touches only the new files — at 100 TB a re-scan per
trigger is O(staged-so-far) while this one is O(new arrivals).

Semantics kept from the reference: no timeout (an episode with a lost
chunk stalls forever — surfaced by monitoring, not silently dropped),
exactly-once emission per completed episode (state is removed on
emit; late re-delivery after emission re-opens a partial group that
never completes, which is harmless — the downstream sink is INSERT
IGNORE anyway).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUT_SCHEMA = StructType(
    [
        StructField("episode_id", LongType()),
        StructField("transcript", StringType()),
    ]
)

# state: which chunk numbers have arrived, their texts, and the target
STATE_SCHEMA = StructType(
    [
        StructField("chunk_nums", ArrayType(IntegerType())),
        StructField("texts", ArrayType(StringType())),
        StructField("expected", IntegerType()),
    ]
)


def _update_barrier(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (episode_id,) = key
    if state.exists:
        chunk_nums, texts, expected = state.get
        chunk_nums, texts = list(chunk_nums), list(texts)
    else:
        chunk_nums, texts, expected = [], [], -1
    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            expected = int(row.num_chunks)
            num = int(row.chunk_num)
            if num not in chunk_nums:  # idempotent re-delivery
                chunk_nums.append(num)
                texts.append(row.transcript)
    if expected > 0 and len(chunk_nums) >= expected:
        ordered = [t for _, t in sorted(zip(chunk_nums, texts))]
        state.remove()  # exactly-once emission
        yield pd.DataFrame(
            {"episode_id": [episode_id], "transcript": [" ".join(ordered)]}
        )
    else:
        state.update((chunk_nums, texts, expected))


def stateful_chunk_barrier(chunks: DataFrame) -> DataFrame:
    """Streaming completion barrier keyed by episode.

    ``chunks`` is a STREAMING DataFrame with columns
    ``episode_id long, chunk_num int, transcript string,
    num_chunks int`` (join the expected count in upstream — a
    stream-static join keeps it declarative).  Emits one
    ``(episode_id, transcript)`` row per episode, space-joined in
    chunk order, exactly once, when the last chunk arrives — even if
    the chunks arrived in different triggers or different runs
    (state is checkpointed).
    """
    return chunks.groupBy("episode_id").applyInPandasWithState(
        _update_barrier,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

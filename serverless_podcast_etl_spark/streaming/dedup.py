"""Streaming exact dedup — the A7 INSERT IGNORE contract on a stream.

The reference gets idempotency from FIFO message dedup-ids plus
INSERT IGNORE sinks (SQS_scripts/scrape.sh:12, src/lambda_2.py:205).
In Structured Streaming the same guarantee has two tiers:

* ``stream_dedup_exact``: ``dropDuplicatesWithinWatermark`` — state
  holds only keys younger than the watermark delay, so memory is
  BOUNDED at any stream volume; a duplicate arriving after the delay
  would pass (the at-least-once window every real pipeline chooses).
* the sink tier: ``foreachBatch`` + ``Warehouse.insert_ignore``
  catches anything that outlives the watermark —
  together they reproduce the reference's end-to-end exactly-once
  effect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stream_dedup_exact(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Bounded-state exact dedup on a stream: one surviving row per
    key among arrivals within the watermark delay.

    State size ∝ distinct keys per delay window, not stream length —
    the property that lets this run forever at 100 TB/day.  Works in
    batch too (watermark is a no-op there and the dedup is global).
    """
    if stream.isStreaming:
        return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            keys
        )
    return stream.dropDuplicates(keys)

"""Streaming near-dup admission — the q76 gate at ingest time.

Each micro-batch of arriving documents is checked against a STATIC
corpus (``operators.dedup.minhash_bands`` semantics) and only
admitted documents reach the sink.  The corpus side is fixed for the
stream's lifetime; re-pointing the gate at a refreshed corpus is a
stream restart, which Structured Streaming makes cheap (checkpointed
source offsets).

Built on ``foreachBatch`` rather than a stream-static join because
admission needs a per-batch aggregation (match counts) and a verify
join — batch semantics inside the micro-batch, the same pattern as
the warehouse sink tier (``Warehouse.insert_ignore``).  The inner
operator is the SAME code the batch catalog certifies (q76):
streaming-vs-batch parity is by construction and pinned by test.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import incremental_neardup_admission


def admission_batch_fn(
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    sink: Callable[[DataFrame, int], None],
    rejected_sink: Callable[[DataFrame, int], None] | None = None,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    verify_threshold: float = 0.2,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function gating each micro-batch against the
    corpus: admitted documents (no verified near-dup in the corpus)
    flow to ``sink`` with their original columns plus ``n_matches``;
    rejected ones go to ``rejected_sink`` when given (audit trail),
    else are dropped."""

    def _process(batch_df: DataFrame, epoch: int) -> None:
        gate = incremental_neardup_admission(
            batch_df,
            corpus_df,
            text_col=text_col,
            id_col=id_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            verify_threshold=verify_threshold,
            # per-micro-batch re-planning: an eager corpus checkpoint
            # every batch would cost more than the lazy repeated scans
            materialize=False,
        )
        flagged = batch_df.join(gate, id_col)
        if rejected_sink is None:
            sink(
                flagged.filter(F.col("admitted") == 1).drop("admitted"), epoch
            )
            return
        # two sink actions share ONE evaluation of the LSH gate
        # pipeline — without the persist, the admitted and rejected
        # filters would each recompute the full signature/band/verify
        # join per micro-batch
        flagged = flagged.persist()
        try:
            sink(
                flagged.filter(F.col("admitted") == 1).drop("admitted"), epoch
            )
            rejected_sink(
                flagged.filter(F.col("admitted") == 0).drop("admitted"), epoch
            )
        finally:
            flagged.unpersist()

    return _process

"""The ``curation`` workload: the certified curation entries of
``plans.catalog`` over a seeded variant of the sf0.1 ``documents`` and
``embeddings`` tables, written during set-up.  One operation is one
entry, run and collected; one batch runs all eight.  Every result is
checked against the entry's DuckDB oracle.

A batch is a curation job on a fresh session, so there is no warm-up:
its time includes planning and compiling every entry for the first
time, as a scheduled job's does.

The corpus is 300 documents and 120 vectors, a sixteenth of sf0.1,
because the oracles are slow: at sf0.1 those of q97 and q98 take about
five minutes on a 4-core machine.  Oracle answers are cached, keyed by
the bytes of the input files and the oracle SQL.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from serverless_podcast_etl_spark.operators import dedup
from serverless_podcast_etl_spark.plans import catalog
from serverless_podcast_etl_spark.sources.tables import load_table

from . import checks, gen
from .loop import closed_loop
from .trace import BENCH_PREFIX

ENTRIES = [
    "q43_quality_filter",
    "q44_exact_dedup_keep_first",
    "q49_neardup_dedup_clustered",
    "q97_neardup_ensemble",
    "q98_ensemble_dedup",
    "q99_incremental_refresh",
    "q117_trained_ivf_ann",
    "q122_bm25_indexed_retrieval",
]
TABLES = ["documents", "embeddings"]
N_DOCS, N_VECS = 300, 120


def short(name: str) -> str:
    return name.split("_", 1)[0]


class Curation:
    def __init__(self, spark, tracer, seed, work, cache):
        self.spark, self.tr = spark, tracer
        self.seed = seed
        self.data = os.path.join(work, "curation_sf")
        self.cache = cache
        self.problems: list[str] = []

    def load(self) -> dict:
        return gen.write_curation_tables(self.seed, self.data, N_DOCS, N_VECS)

    def warm_up(self) -> None:
        """Nothing, as a measured batch is a cold job; but a traced run
        compares a traced with an untraced batch, so both must be warm."""
        if self.tr.requested:
            for name in ENTRIES:
                catalog.CATALOG[name].fn(self.spark, self.data).collect()

    def run(self, seconds) -> dict:
        results = []

        def op(batch, i):
            name = ENTRIES[i]
            with self.tr.span(f"curation.{short(name)}", f"batch-{batch}") as rec:
                t0 = time.perf_counter()
                df = catalog.CATALOG[name].fn(self.spark, self.data)
                t1 = self.tr.phase(rec, "construct_s", t0)
                results.append((name, df.columns, df.collect()))
                self.tr.phase(rec, "execute_s", t1)

        out = closed_loop(len(ENTRIES), seconds, op)
        out["failed"] = self.check(results)
        return out

    def trace_extras(self) -> None:
        """Candidate and verified near-duplicate pairs of q49's
        MinHash-LSH configuration: useful pairs against attempts."""
        docs = load_table(self.spark, self.data, "documents")
        with self.tr.span(BENCH_PREFIX + "count"):
            bands = dedup.minhash_bands(docs, "text", "doc_id", n=3, num_hashes=8, bands=4)
            a = bands.select(F.col("doc_id").alias("id_a"), "band", "bucket")
            b = bands.select(F.col("doc_id").alias("id_b"), "band", "bucket")
            cand = (
                a.join(b, ["band", "bucket"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
                .count()
            )
            verified = dedup.minhash_lsh_pairs(
                docs, "text", "doc_id", n=3, num_hashes=8, bands=4, verify_threshold=0.3
            ).count()
        self.tr.count("dedup.candidate_pairs", cand)
        self.tr.count("dedup.verified_pairs", verified)

    def check(self, results) -> int:
        oracle = catalog.oracle_sql()
        sqls = {name: oracle[catalog.driver_name(name)] for name in ENTRIES}
        want = checks.cached_oracle(sqls, self.data, TABLES, self.cache)
        failed = 0
        for name, cols, rows in results:
            if not checks.same_result(cols, rows, *want[name]):
                failed += 1
                self.problems.append(f"{name}: result differs from its oracle")
        return failed

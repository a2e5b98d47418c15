"""Runnable hybrid search stack: persisted BM25 + dense ANN, fused.

Usage:  python examples/hybrid_search_demo.py [sf_dir] [work_dir]

The production shape behind catalog entries q120/q121/q122:

1. BUILD — persist the BM25 inverted index over the document corpus
   (``write_bm25_index``): postings with document frequency embedded,
   range-partitioned and sorted on term, exact-integer corpus stats
   stamped in the sidecar.  Built once; probed by every query batch.
2. SPARSE QUERY — load through the stamp/tokenizer check and probe:
   the query vocabulary becomes a pushed ``In(term, …)`` on the
   index scan (shown live from the executed plan), so a probe reads
   posting lists off disk, not the corpus.
3. DENSE QUERY — exact cosine top-k over the embedding column for the
   same probe documents (``similarity.brute_force_topk`` — swap in
   the trained-IVF probe of q118 when the corpus outgrows brute
   force; both emit the same ranked shape).
4. FUSE — ``rrf_fuse``: reciprocal-rank fusion of the two rankings,
   rank-only (no score calibration across incomparable scales),
   1/(60+r_sparse) + 1/(60+r_dense).
5. MAINTAIN — BM25 has NO append, deliberately: document frequency
   is global, so new documents change every existing posting's idf —
   rebuild absorbs growth (shown: stats restamped).  Contrast the
   trained-IVF lifecycle demo, where the frozen codebook makes
   append-under-stamp exact.

Every stage is a certified catalog operator (q120/q121/q122); this
file only wires and prints them.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from serverless_podcast_etl_spark.functions.text import word_tokens  # noqa: E402
from serverless_podcast_etl_spark.operators import retrieval, similarity  # noqa: E402
from serverless_podcast_etl_spark.session import get_spark  # noqa: E402
from serverless_podcast_etl_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    work = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="hybrid_search_demo_")
    )
    path = os.path.join(work, "bm25_index")
    spark = get_spark(
        app_name="hybrid-search-demo", master="local[4]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    corpus = docs.join(emb, "doc_id").localCheckpoint(eager=True)

    # 1. BUILD — persist the inverted index with its stats stamp
    meta = retrieval.write_bm25_index(corpus, path, "doc_id")
    print(
        f"built BM25 index over {meta['n_docs']} docs "
        f"({meta['total_dl']} tokens) at {path}"
    )

    # probes: short snippets of three corpus documents + their vectors
    probes = corpus.filter(F.col("doc_id") < 3).select(
        "doc_id",
        F.array_join(F.slice(word_tokens(F.col("text")), 1, 8), " ").alias(
            "text"
        ),
        "embedding",
    )

    # 2. SPARSE — stamp-checked load, term-pruned probe
    index, stamped = retrieval.load_bm25_index(spark, path)
    sparse = retrieval.bm25_probe_topk(probes, index, stamped, "doc_id", k=20)
    plan = sparse._jdf.queryExecution().executedPlan().toString()
    pruned = "In(term" in plan
    print(f"sparse probe: term-pruned index scan: {pruned}")

    # 3. DENSE — exact cosine arm over the same probes
    dense = similarity.brute_force_topk(
        probes, corpus, query_id="doc_id", corpus_id="doc_id", k=20
    )

    # 4. FUSE — rank-only reciprocal-rank fusion
    fused = retrieval.rrf_fuse([sparse, dense], k=5, k_rrf=60)
    n = fused.count()
    print(f"fused top-5 per probe ({n} rows):")
    fused.orderBy("query_id", "rank").show(15, truncate=False)
    both = fused.join(
        sparse.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).join(
        dense.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    print(f"fused hits present in BOTH arms: {both.count()}/{n}")

    # 5. MAINTAIN — growth means rebuild (df is global); stats restamp
    grown = corpus.unionByName(
        corpus.filter(F.col("doc_id") < 2).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "embedding"
        )
    )
    meta2 = retrieval.write_bm25_index(grown, path, "doc_id")
    print(
        f"rebuilt after growth: {meta['n_docs']} -> {meta2['n_docs']} docs "
        f"(no append by design: df is global)"
    )

    print("hybrid search demo complete")
    spark.stop()


if __name__ == "__main__":
    main()

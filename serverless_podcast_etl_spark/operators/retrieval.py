"""Lexical (keyword) retrieval over text columns, and rank fusion.

The retrieval family elsewhere is dense (brute cosine → LSH → IVF
over embeddings, operators/similarity.py); this module adds the
sparse side — the classic inverted-index ranking a training-data
pipeline reaches for when there are no embeddings yet:
decontamination probes ("which corpus docs score highest against
this eval question"), target-corpus affinity checks, and plain
search over a crawl — plus the two production companions: a
PERSISTED inverted index (``write_bm25_index`` /
``bm25_probe_topk`` — build once, probe forever, term-pruned scans)
and ``rrf_fuse``, reciprocal-rank fusion of any N ranked lists
(the standard sparse+dense combiner; rank-only, so it composes
``bm25_topk`` with any ``similarity`` top-k unchanged).

Spark-first shape (the 100 TB story): the corpus is tokenized ONCE
into a postings frame ``(doc_id, term, tf, dl)``; document frequency
is a ``groupBy(term)`` whose shuffle the postings⋈df join then reuses
(same key — NOTES fact 19); the tiny query side broadcasts into the
term equi-join, so candidate volume is Σ_{t∈query} df(t) — only
documents sharing a query term are ever touched, never |Q|×|corpus|;
per-(query, doc) scores partial-aggregate map-side; top-k is a
per-query window.  Corpus-level scalars (N, avgdl) are one bounded
1-row collect inlined as literals.  NOTE the |Q| side of that sum:
with a stopword-dense vocabulary, every query term can touch a
posting list approaching |corpus| — query LOAD, not corpus size, is
what a caller scales by (measured: 1000 probes cost ~30× a 5-probe
batch at the same SF).
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from .scale import ensure_parallelism

# Okapi BM25 term-saturation and length-normalization defaults
BM25_K1 = 1.2
BM25_B = 0.75


def _idf(df_col: Column, n_docs: int, form: str) -> Column:
    """Per-term inverse document frequency.

    ``rational`` — ``(N + 1) / (df + 0.5)``: the module's certifiable
    default, following the q51 TF-IDF convention (NOTES fact 12:
    ``ln`` differs in the last ulp across runtimes, so a log-free form
    is what lets the whole ranking hash-match a DuckDB oracle).  It
    preserves BM25's defining parts — tf saturation and length
    normalization — but weights rare terms harder than the log form
    (idf grows linearly in N/df instead of logarithmically); fine for
    dedup/decontamination-style probes, documented for search uses.

    ``lucene`` — ``ln(1 + (N − df + 0.5) / (df + 0.5))``: the standard
    BM25+ idf for user-facing ranking; hypothesis-tested against a
    plain-Python twin but not oracle-certified (the ln caveat above).
    """
    if form == "rational":
        return F.lit(float(n_docs + 1)) / (df_col + F.lit(0.5))
    if form == "lucene":
        return F.log1p(
            (F.lit(float(n_docs)) - df_col + F.lit(0.5))
            / (df_col + F.lit(0.5))
        )
    raise ValueError(f"bm25_topk: unknown idf form {form!r}")


def bm25_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    idf: str = "rational",
) -> DataFrame:
    """Top-``k`` corpus documents per query by BM25 over whitespace
    word tokens (``functions.text.word_tokens`` — the engine's single
    tokenizer), ranked ``(query_id, neighbor_id, score, rank)``.

    score(q, d) = Σ_{t ∈ q ∩ d} idf(t) ·
                  tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Query terms are deduplicated IN the row (``array_distinct`` —
    NOTES fact 20), so repeated query words neither re-count nor
    re-shuffle; documents scoring 0 (no shared term) never appear.
    Ties break to the lower neighbor id (``row_number`` over
    score DESC, id ASC — the ANN convention), and the final score is
    rounded to 4 decimals in BOTH engines.

    PRECONDITION (shared id space, the ``ivf_topk`` convention): the
    self-match filter compares ``query_id`` to ``corpus_id`` AS
    VALUES — correct when queries are drawn from the corpus (the
    catalog shape); disambiguate ids (e.g. prefix one side) when the
    two tables are independent.

    Scale: see the module docstring — inverted-list equi-join on
    term, query side broadcast, candidates bounded by posting-list
    lengths, no cartesians.  A skew guard for stopword-heavy queries
    is the caller's ``k1``/stopword hygiene: a term with df ≈ N
    contributes ≈ idf_min per doc but costs a full posting-list scan,
    exactly as in any inverted index.
    """
    postings = build_bm25_index(corpus, corpus_id)
    stats = _corpus_stats(corpus, corpus_id, "text")
    return _score_postings(
        postings, queries, query_id, "text",
        n_docs=stats["n_docs"], total_dl=stats["total_dl"],
        k=k, k1=k1, b=b, idf=idf,
    )


def _corpus_stats(
    corpus: DataFrame, corpus_id: str, text_col: str
) -> dict:
    """Exact integer corpus stats: document count and total token
    length — one bounded 1-row collect.  Kept as INTS so a stamped
    index sidecar round-trips them losslessly; ``avgdl`` is derived
    the same way (``float(total)/n``) at every consumer."""
    row = (
        corpus.select(
            F.size(word_tokens(F.col(text_col))).alias("dl")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tot"))
        .collect()[0]
    )
    return {"n_docs": int(row["n"]), "total_dl": int(row["tot"] or 0)}


def build_bm25_index(
    corpus: DataFrame, corpus_id: str
) -> DataFrame:
    """The BM25 postings frame ``(neighbor_id, dl, term, tf, df)`` —
    document frequency joined onto the postings at build time (the
    ``groupBy(term)`` shuffle is reused by the join back — same key,
    NOTES fact 19), so a PERSISTED index needs no corpus pass at probe
    time: probe = scan + query join + score."""
    toks = ensure_parallelism(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        word_tokens(F.col("text")).alias("_toks"),
    )
    postings = (
        toks.select(
            "neighbor_id", F.size("_toks").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .groupBy("neighbor_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    return postings.join(dfreq, "term")


def _score_postings(
    postings: DataFrame,
    queries: DataFrame,
    query_id: str,
    text_col: str,
    n_docs: int,
    total_dl: int,
    k: int,
    k1: float,
    b: float,
    idf: str,
) -> DataFrame:
    """Shared scoring tail (direct ``bm25_topk`` AND the persisted
    probe run exactly this plan over their postings source, so the two
    paths cannot drift): broadcast the deduped query terms into the
    term equi-join, sum contributions per pair, rank per query."""
    avgdl = float(total_dl) / max(n_docs, 1)
    qterms = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(
            F.array_distinct(word_tokens(F.col(text_col)))
        ).alias("term"),
    )
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    contrib = _idf(F.col("df"), n_docs, idf) * (
        F.col("tf") * F.lit(k1 + 1.0)
    ) / (F.col("tf") + F.lit(k1) * norm)
    scored = (
        postings.join(F.broadcast(qterms), "term")  # queries ≪ corpus
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists — the standard way to
    combine a sparse (BM25) and a dense (embedding) retriever without
    calibrating their incomparable score scales:

        rrf(q, d) = Σ_i 1 / (k_rrf + rank_i(q, d))

    with a document absent from system i contributing 0 for that term.
    Each input must carry ``(query_id, neighbor_id, rank)`` with
    ranks unique per (query, id) — the shape ``bm25_topk`` /
    ``similarity.brute_force_topk`` emit.  Returns
    ``(query_id, neighbor_id, rrf_score, rank)`` with the usual
    (score DESC, neighbor_id ASC) row_number ranking, top-``k``.

    Certifiability: the per-system rank lands in its own column (a
    ``max(when(system = i))`` pivot — integer max, order-free), and the
    fusion is ONE fixed-order expression ``t_0 + t_1 + …`` over those
    columns — no cross-row float aggregation anywhere, so the score is
    bit-identical across engines (the fact-12 concern never arises; a
    ``SUM`` over tagged rows would have reintroduced shuffle-order
    float addition).

    Scale: every input is already top-k-bounded (|Q|·k_i rows), so the
    union + pivot shuffle moves Σ|Q|·k_i rows — fusion cost is bounded
    by the QUERY load regardless of corpus size; the heavy lifting
    stays in the upstream retrievers.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    tagged = [
        r.select(
            "query_id",
            "neighbor_id",
            F.lit(i).alias("_sys"),
            F.col("rank").alias("_r"),
        )
        for i, r in enumerate(rankings)
    ]
    u = reduce(lambda a, b: a.unionByName(b), tagged)
    per_sys = u.groupBy("query_id", "neighbor_id").agg(
        *[
            F.max(F.when(F.col("_sys") == i, F.col("_r"))).alias(f"_r{i}")
            for i in range(len(rankings))
        ]
    )
    score: Column = F.lit(0.0)
    for i in range(len(rankings)):  # fixed fold order = the SQL twin's
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(f"_r{i}")),
            F.lit(0.0),
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id")
    )
    return (
        per_sys.withColumn("rrf_score", F.round(score, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rrf_score", "rank")
    )


_BM25_META = "_bm25_meta"
_BM25_TOKENIZER = "word_tokens/lower-ws-v1"


def write_bm25_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str,
) -> dict:
    """Persist the BM25 inverted index — the sparse analog of
    ``similarity.write_trained_ivf_index``'s build-once/probe-forever
    contract: the postings frame (df embedded) is written
    ``repartitionByRange("term").sortWithinPartitions("term")`` so
    every parquet file covers a contiguous term range and a probe's
    ``term IN (...)`` pushdown skips whole files/row-groups via
    min/max stats; the exact-integer corpus stats (n_docs, total_dl)
    and the tokenizer tag are stamped in a metadata sidecar (written
    THROUGH Spark, so the index lives wherever the table does).
    Returns the stamped metadata dict.

    NO append operation exists, deliberately: document frequency is
    GLOBAL, so appending documents changes ``df`` (and n_docs/avgdl)
    for every EXISTING posting — unlike the trained IVF, where the
    frozen codebook makes append-under-stamp exact, there is no
    frozen-stat BM25 append that scores correctly.  Rebuild to absorb
    growth; ``trained_ivf``'s drift-report analog is unnecessary
    because staleness here is simply "the corpus changed".
    """
    import json

    stats = _corpus_stats(corpus, corpus_id, "text")
    index = build_bm25_index(corpus, corpus_id)
    (
        index.repartitionByRange(F.col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(path)
    )
    meta = {
        "n_docs": stats["n_docs"],
        "total_dl": stats["total_dl"],
        "tokenizer": _BM25_TOKENIZER,
    }
    spark = corpus.sparkSession
    # JVM-side 1-row literal frame (NOTES fact 23): createDataFrame
    # over local data pays a Python-worker launch per partition
    spark.range(1).select(
        F.lit(json.dumps(meta)).alias("v")
    ).coalesce(1).write.mode("overwrite").text(f"{path}/{_BM25_META}")
    return meta


def load_bm25_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Read-path stamp check (the ``load_trained_ivf_index``
    convention): return the postings frame plus the stamped stats,
    refusing an unreadable or foreign-tokenizer sidecar — probing with
    the wrong stats or a different tokenization silently returns
    wrong scores."""
    import json

    rows = spark.read.text(f"{path}/{_BM25_META}").collect()
    lines = [r["value"] for r in rows if r["value"].strip()]
    if len(lines) != 1:
        raise ValueError(
            f"BM25 metadata sidecar at {path}/{_BM25_META} holds "
            f"{len(lines)} non-empty lines (expected exactly 1) — "
            "index stamp unreadable; rebuild with write_bm25_index"
        )
    meta = json.loads(lines[0])
    if meta.get("tokenizer") != _BM25_TOKENIZER:
        raise ValueError(
            f"BM25 index at {path} was built with tokenizer "
            f"{meta.get('tokenizer')!r}, this engine scores with "
            f"{_BM25_TOKENIZER!r} — refusing to probe across "
            "tokenizations; rebuild with write_bm25_index"
        )
    return spark.read.parquet(path), meta


def bm25_probe_topk(
    queries: DataFrame,
    index: DataFrame,
    meta: dict,
    query_id: str,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k against a persisted ``write_bm25_index`` table — the
    production form: no corpus pass at probe time; the scoring plan is
    literally ``bm25_topk``'s shared tail (``_score_postings``), so a
    round-trip through parquet changes nothing the result hash can see
    (the q118 story, sparse edition).  Scores use the rational idf at
    ``BM25_K1``/``BM25_B`` over the queries' ``text`` column.

    The distinct query terms — bounded by
    |Q| × query length, the same queries-≪-corpus contract the
    broadcast join already assumes — into a literal ``isin`` filter,
    which reaches the parquet scan as a pushed ``In(term, …)``: with
    the index range-partitioned and sorted on term, only the files/
    row-groups whose [min, max] term range intersects the query
    vocabulary are read off disk (the partition-pruning analog for a
    high-cardinality key).  Shares ``bm25_topk``'s id-space
    PRECONDITION.
    """
    # the queries frame feeds BOTH the vocabulary collect and the
    # scoring join below — pin it at the fork (fact 18, the
    # trained_ivf_probe_topk convention; bounded by contract)
    queries = queries.localCheckpoint(eager=True)
    terms = [
        r["t"]
        for r in queries.select(
            F.explode(
                F.array_distinct(word_tokens(F.col("text")))
            ).alias("t")
        )
        .distinct()
        .collect()  # bounded: query vocabulary
    ]
    index = index.filter(F.col("term").isin(terms) if terms else F.lit(False))
    return _score_postings(
        index, queries, query_id, "text",
        n_docs=int(meta["n_docs"]), total_dl=int(meta["total_dl"]),
        k=k, k1=BM25_K1, b=BM25_B, idf="rational",
    )

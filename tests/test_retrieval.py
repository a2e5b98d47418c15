"""q120 (r14): BM25 keyword retrieval.  Cross-engine exactness is
certified by the catalog oracle; these tests pin the SEMANTICS with a
hypothesis differential against a plain-Python BM25 (both idf forms),
plus directed edges (self-match drop, no-shared-term exclusion,
repeated query terms, empty query)."""

from __future__ import annotations

import math
import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from serverless_podcast_etl_spark.operators.retrieval import bm25_topk

# -- plain-Python twin --------------------------------------------------------


def _toks(t):
    return [w for w in re.split(r"\s+", t.lower()) if w]


def _py_bm25(query_rows, corpus_rows, k, k1=1.2, b=0.75, idf="rational"):
    corpus = {i: _toks(t) for i, t in corpus_rows}
    n = len(corpus)
    avgdl = sum(len(v) for v in corpus.values()) / max(n, 1)
    df: dict[str, int] = {}
    for ts in corpus.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    out = {}
    for qid, qt in query_rows:
        terms = set(_toks(qt))
        scores = {}
        for did, ts in corpus.items():
            if did == qid:
                continue
            tfs: dict[str, int] = {}
            for t in ts:
                tfs[t] = tfs.get(t, 0) + 1
            s, hit = 0.0, False
            for t in sorted(terms):
                tf = tfs.get(t, 0)
                if tf == 0:
                    continue
                hit = True
                w = (
                    (n + 1) / (df[t] + 0.5)
                    if idf == "rational"
                    else math.log1p((n - df[t] + 0.5) / (df[t] + 0.5))
                )
                s += w * (tf * (k1 + 1)) / (
                    tf + k1 * (1 - b + b * len(ts) / avgdl)
                )
            if hit:
                scores[did] = round(s, 4)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[qid] = [(d, s, r + 1) for r, (d, s) in enumerate(ranked)]
    return out


# -- strategies: small vocab so term overlap actually happens -----------------

_WORD = st.sampled_from(
    ["the", "cat", "sat", "mat", "dog", "ran", "far", "sun", "Pig", "ox"]
)
_DOC = st.lists(_WORD, min_size=1, max_size=12).map(" ".join)
_CORPUS = st.lists(_DOC, min_size=4, max_size=12)


def _dfs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@settings(max_examples=8, deadline=None)
@given(_CORPUS, st.sampled_from(["rational", "lucene"]))
def test_bm25_matches_python(spark, docs, idf):
    rows = list(enumerate(docs))
    queries = rows[:2]
    got: dict = {q: [] for q, _ in queries}
    res = bm25_topk(
        _dfs(spark, queries), _dfs(spark, rows), "doc_id", "doc_id",
        k=5, idf=idf,
    ).collect()
    for r in res:
        got[r["query_id"]].append(
            (r["neighbor_id"], r["score"], r["rank"])
        )
    want = _py_bm25(queries, rows, k=5, idf=idf)
    assert {q: sorted(v) for q, v in got.items()} == {
        q: sorted(v) for q, v in want.items()
    }


def test_bm25_directed_edges(spark):
    corpus = [
        (0, "alpha beta gamma"),
        (1, "alpha alpha beta"),
        (2, "delta epsilon zeta"),
        (3, ""),
    ]
    # repeated query terms dedupe in-row; doc 2/3 share nothing
    queries = [(0, "alpha alpha beta"), (9, "")]
    res = bm25_topk(
        _dfs(spark, queries), _dfs(spark, corpus), "doc_id", "doc_id", k=5
    ).collect()
    by_q: dict = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # self-match dropped, non-overlapping docs absent, empty query empty
    assert by_q == {0: [1]}
    want = _py_bm25(queries, corpus, k=5)
    assert [(n,) for n in by_q[0]] == [(d,) for d, _, _ in want[0]]


def test_bm25_oracle_generator_at_alternate_params(spark):
    """Pin the GENERATOR (the q117/q119 convention): different k1/b/k,
    probe length and query set must still hash-match the engine on the
    real sf0.001 table."""
    from serverless_podcast_etl_spark.functions import text as text_fns
    from serverless_podcast_etl_spark.plans.catalog import _bm25_sql, _t

    from .oracle import compare

    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.array_join(
            F.slice(text_fns.word_tokens(F.col("text")), 1, 5), " "
        ).alias("text"),
    )
    df = bm25_topk(
        probes, docs, "doc_id", "doc_id", k=4, k1=1.6, b=0.6
    )
    sql = _bm25_sql(
        k=4, k1=1.6, b=0.6, n_q_tokens=5, query_pred="doc_id % 7 = 0"
    )
    problems = compare(df, sql, sf_dir)
    assert not problems, "; ".join(problems)


# -- q121 (r14): reciprocal-rank fusion ---------------------------------------


def _py_rrf(rankings, k, k_rrf=60):
    """rankings: list of dict[qid -> list[(nid, rank)]]."""
    keys = {}
    for i, r in enumerate(rankings):
        for qid, lst in r.items():
            for nid, rank in lst:
                keys.setdefault((qid, nid), [None] * len(rankings))[i] = rank
    fused = {}
    for (qid, nid), ranks in keys.items():
        s = 0.0
        for r in ranks:  # fixed fold order, matching the operator
            s += 1.0 / (k_rrf + r) if r is not None else 0.0
        fused.setdefault(qid, []).append((nid, round(s, 6)))
    out = {}
    for qid, lst in fused.items():
        ranked = sorted(lst, key=lambda t: (-t[1], t[0]))[:k]
        out[qid] = [(n, s, i + 1) for i, (n, s) in enumerate(ranked)]
    return out


_RANKLIST = st.lists(
    st.integers(min_value=0, max_value=15), min_size=0, max_size=6,
    unique=True,
)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.dictionaries(
            st.integers(min_value=0, max_value=2), _RANKLIST,
            min_size=1, max_size=3,
        ),
        min_size=1, max_size=3,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_rrf_matches_python(spark, systems, k):
    """Fusion of arbitrary per-system top lists (docs present in any
    subset of systems) matches the plain-Python twin exactly."""
    from serverless_podcast_etl_spark.operators.retrieval import rrf_fuse

    rankings, frames = [], []
    for sysmap in systems:
        r = {q: [(n, i + 1) for i, n in enumerate(lst)]
             for q, lst in sysmap.items()}
        rankings.append(r)
        rows = [(q, n, rk) for q, lst in r.items() for n, rk in lst]
        frames.append(
            spark.createDataFrame(
                rows or [(None, None, None)],
                "query_id long, neighbor_id long, rank int",
            ).filter(F.col("query_id").isNotNull())
        )
    got: dict = {}
    for row in rrf_fuse(frames, k=k).collect():
        got.setdefault(row["query_id"], []).append(
            (row["neighbor_id"], row["rrf_score"], row["rank"])
        )
    want = _py_rrf(rankings, k=k)
    want = {q: v for q, v in want.items() if v}
    assert {q: sorted(v) for q, v in got.items()} == {
        q: sorted(v) for q, v in want.items()
    }


def test_rrf_directed_edges(spark):
    from serverless_podcast_etl_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, neighbor_id long, rank int"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_id long, neighbor_id long, rank int"
    )
    rows = {r["neighbor_id"]: (r["rrf_score"], r["rank"])
            for r in rrf_fuse([a, b], k=10).collect()}
    # doc 11 appears in both systems -> two terms; 10/12 -> one each
    assert rows[11] == (round(1 / 62 + 1 / 61, 6), 1)
    assert rows[10] == (round(1 / 61, 6), 2)  # id tie-break vs 12's 1/62
    assert rows[12] == (round(1 / 62, 6), 3)
    import pytest

    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])


def test_hybrid_rrf_generator_at_alternate_params(spark):
    """Pin the q121 GENERATOR: different inner-k, rrf constant, final k
    and query set must still hash-match the engine on the real
    sf0.001 tables."""
    from serverless_podcast_etl_spark.functions import text as text_fns
    from serverless_podcast_etl_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )
    from serverless_podcast_etl_spark.operators.similarity import (
        brute_force_topk,
    )
    from serverless_podcast_etl_spark.plans.catalog import _hybrid_rrf_sql, _t

    from .oracle import compare

    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    corpus = docs.join(emb, "doc_id").select("doc_id", "text", "embedding")
    probes = corpus.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        F.array_join(
            F.slice(text_fns.word_tokens(F.col("text")), 1, 6), " "
        ).alias("text"),
        "embedding",
    )
    sparse = bm25_topk(probes, corpus, "doc_id", "doc_id", k=7)
    dense = brute_force_topk(probes, corpus, "doc_id", "doc_id", k=7)
    df = rrf_fuse([sparse, dense], k=5, k_rrf=10)
    sql = _hybrid_rrf_sql(
        k=5, k_inner=7, k_rrf=10, n_q_tokens=6,
        query_pred="doc_id % 11 = 0",
    )
    problems = compare(df, sql, sf_dir)
    assert not problems, "; ".join(problems)


# -- q122 (r14): persisted BM25 index lifecycle -------------------------------


def _bm25_index(spark, tmp_path, docs):
    from serverless_podcast_etl_spark.operators.retrieval import (
        load_bm25_index,
        write_bm25_index,
    )

    path = str(tmp_path / "bm25_index")
    meta = write_bm25_index(docs, path, "doc_id")
    index, loaded = load_bm25_index(spark, path)
    assert loaded == meta
    return path, index, loaded


def test_bm25_index_roundtrip_and_prune_parity(spark, tmp_path):
    """probe(write→load) == direct bm25_topk, exactly; and the probe's
    scan carries a pushed In(term) — the read-side contract the
    range-partitioned sorted write exists for."""
    from serverless_podcast_etl_spark.operators.retrieval import (
        bm25_probe_topk,
        bm25_topk,
    )
    from serverless_podcast_etl_spark.plans.catalog import _t

    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 9 == 2).select(
        "doc_id", F.substring("text", 1, 40).alias("text")
    )
    _, index, meta = _bm25_index(spark, tmp_path, docs)

    direct = bm25_topk(probes, docs, "doc_id", "doc_id", k=6)
    probed = bm25_probe_topk(probes, index, meta, "doc_id", k=6)
    want = sorted(map(tuple, direct.collect()))
    assert sorted(map(tuple, probed.collect())) == want
    assert len(want) > 0

    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(term" in plan, plan[:2000]


def test_bm25_index_refusals(spark, tmp_path):
    """Unreadable sidecar, foreign tokenizer, and the empty-query
    prune path all behave per contract."""
    import json

    import pytest

    from serverless_podcast_etl_spark.operators.retrieval import (
        _BM25_META,
        bm25_probe_topk,
        load_bm25_index,
    )
    from serverless_podcast_etl_spark.plans.catalog import _t

    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    path, index, meta = _bm25_index(spark, tmp_path, docs)

    # empty query side -> empty result under prune (isin([]) guard)
    empty = docs.filter(F.lit(False)).select(
        "doc_id", F.col("text")
    )
    assert bm25_probe_topk(empty, index, meta, "doc_id").count() == 0

    # corrupt the sidecar to 2 lines -> refuse
    spark.createDataFrame(
        [("x",), ("y",)], "value string"
    ).coalesce(1).write.mode("overwrite").text(f"{path}/{_BM25_META}")
    with pytest.raises(ValueError, match="unreadable"):
        load_bm25_index(spark, path)

    # foreign tokenizer stamp -> refuse
    bad = dict(meta, tokenizer="other-tokenizer-v9")
    spark.range(1).select(
        F.lit(json.dumps(bad)).alias("v")
    ).coalesce(1).write.mode("overwrite").text(f"{path}/{_BM25_META}")
    with pytest.raises(ValueError, match="tokeniz"):
        load_bm25_index(spark, path)

"""Directed checks of the materialized curation operators —
minhash_lsh_pairs, ngram_jaccard_pairs, containment_pairs,
incremental_neardup_admission, the affinity family
(target_affinity_scores / target_coverage_audit) and
embedding_neardup_pairs' broadcast bucket join — on a corpus built to
exercise every branch: near-dup pairs above and below the verify
threshold, stop-shingles above the df cap, an asymmetric containment
pair, a shingle-less doc and a predicate-defined target slice.

Each operator once also had a lazy (or shuffle-join) mode, and the
two modes were checked row-identical here.  The expected rows below
are the ones both modes returned, written as literals, so the one
remaining plan is held to the same answer."""

from __future__ import annotations

from itertools import combinations

import pytest

from serverless_podcast_etl_spark.operators import dedup, selection


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "en"),
        (2, base + " tail drift", "en"),                     # near-dup of 1
        (3, "completely different words entirely here now ok", "en"),
        (4, "the quick brown fox", "de"),                    # contained in 1
        (5, base.replace("lazy", "sleepy"), "de"),           # near-dup of 1
        (6, "short", "en"),                                  # shingle-less
        (7, "boiler plate boiler plate boiler plate boiler", "de"),
    ] + [
        # df-cap fodder: one shared boilerplate shingle across many docs
        (100 + i, f"common shared boilerplate ngram run {i}", "en")
        for i in range(8)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# every pair of the eight boilerplate docs 100..107 scores the same
def _boilerplate_pairs(n_shared, score):
    return [(a, b, n_shared, score)
            for a, b in combinations(range(100, 108), 2)]


def test_minhash_lsh_pairs_parity(corpus):
    kw = dict(text_col="text", id_col="doc_id", n=3, num_hashes=8,
              bands=4, verify_threshold=0.2)
    assert _rows(dedup.minhash_lsh_pairs(corpus, **kw)) == [
        (1, 2, 10, 0.8333), (1, 5, 7, 0.5385), (2, 5, 7, 0.4667),
    ] + _boilerplate_pairs(3, 0.6)


def test_ngram_jaccard_pairs_parity(corpus):
    expected = {
        None: [
            (1, 2, 11, 0.8462), (1, 4, 3, 0.2727), (1, 5, 9, 0.6923),
            (2, 4, 3, 0.2308), (2, 5, 9, 0.6), (4, 5, 3, 0.2727),
        ] + _boilerplate_pairs(4, 0.6667),
        # the cap drops the boilerplate stop-shingles and doc 4's
        # bigrams, which four docs share
        3: [(1, 2, 8, 0.8), (1, 5, 6, 0.6), (2, 5, 6, 0.5)],
    }
    for cap, want in expected.items():
        kw = dict(text_col="text", id_col="doc_id", n=2, threshold=0.1,
                  max_doc_freq=cap)
        assert _rows(dedup.ngram_jaccard_pairs(corpus, **kw)) == want


def test_containment_pairs_parity(corpus):
    kw = dict(text_col="text", id_col="doc_id", n=2, threshold=0.4,
              max_doc_freq=5)
    # doc 4 sits inside docs 1 and 2: containment 1.0, Jaccard ~0.25
    assert _rows(dedup.containment_pairs(corpus, **kw)) == [
        (1, 2, 11, 1.0, 0.8462, 1.0),
        (1, 4, 3, 0.2727, 1.0, 1.0),
        (1, 5, 9, 0.8182, 0.8182, 0.8182),
        (2, 4, 3, 0.2308, 1.0, 1.0),
        (2, 5, 9, 0.6923, 0.8182, 0.8182),
        (4, 5, 3, 1.0, 0.2727, 1.0),
    ]


def test_admission_parity(corpus):
    new = corpus.filter("doc_id >= 100 or doc_id in (2, 5)")
    old = corpus.filter("doc_id < 100 and doc_id not in (2, 5)")
    # (doc_id, n_matches, admitted): docs 2 and 5 near-dup doc 1 in
    # the corpus; the boilerplate docs only match each other, and new
    # docs are never compared with each other
    assert _rows(dedup.incremental_neardup_admission(
        new, old, text_col="text", id_col="doc_id", n=2, verify_threshold=0.2,
    )) == [
        (2, 1, 0), (5, 1, 0),
    ] + [(d, 0, 1) for d in range(100, 108)]


_DIFFERENCE_SCORES = [
    (1, 23, -3245.481506), (2, 27, -2538.914576), (3, 13, 2184.877185),
    (4, 7, -5536.148393), (5, 23, -4115.917159), (6, 1, 2305.877306),
    (7, 13, -10583.385583), (100, 11, 6137.631138),
    (101, 11, 5578.630579), (102, 11, 5578.630579),
    (103, 11, 5438.880439), (104, 11, 4876.629877),
    (105, 11, 4525.629526), (106, 11, 5508.755509),
    (107, 11, 5578.630579),
]


def test_affinity_scores_parity(corpus):
    expected = {
        "difference": _DIFFERENCE_SCORES,
        "log_ratio": [
            (1, 23, -0.125796), (2, 27, -0.092058), (3, 13, 0.169692),
            (4, 7, -0.22815), (5, 23, -0.195772), (6, 1, 0.18155),
            (7, 13, -1.019878), (100, 11, 0.125563),
            (101, 11, 0.125563), (102, 11, 0.125563),
            (103, 11, 0.125563), (104, 11, 0.088702),
            (105, 11, 0.051842), (106, 11, 0.125563),
            (107, 11, 0.125563),
        ],
    }
    # predicate form, both weight forms
    for form, want in expected.items():
        assert _rows(selection.target_affinity_scores(
            corpus, None, "text", "doc_id", num_buckets=64,
            target_predicate=corpus.lang == "en", weight_form=form,
        )) == want
    # separate-target-frame form: the same slice, the same scores
    tgt = corpus.filter("lang = 'en'")
    assert _rows(selection.target_affinity_scores(
        corpus, tgt, "text", "doc_id", num_buckets=64,
    )) == _DIFFERENCE_SCORES


def test_coverage_audit_parity(corpus):
    kw = dict(text_col="text", id_col="doc_id", k=3, num_buckets=64)
    assert _rows(selection.target_coverage_audit(
        corpus, target_predicate=corpus.lang == "en", **kw
    )) == [("affinity", 13, 41, 0.317073), ("digest", 14, 41, 0.341463)]


def test_embedding_neardup_broadcast_vs_shuffle_parity(spark):
    """ADVICE r12: the LSH bucket self-join broadcasts its build side
    (a shuffle join lands every candidate pair on at most
    2^len(planes) tasks).  Every planted near-dup partner pair is
    found except (80, 81), whose jitter splits it across a hyperplane;
    the rows are the ones the shuffle bucket-join also returned."""
    import random

    from serverless_podcast_etl_spark.operators import similarity

    rng = random.Random(7)
    rows = []
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((2 * i, base))
        # near-dup partner for every even id → pairs above threshold
        rows.append((2 * i + 1, [x + rng.uniform(-0.01, 0.01) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(4)]
    got = _rows(similarity.embedding_neardup_pairs(
        df, id_col="vec_id", planes=planes,
        threshold=0.98,
    ))
    below_one = {0, 8, 18, 20, 26, 34, 40, 42, 46, 54, 74, 92, 94, 100,
                 104, 106, 112, 116}
    assert got == [
        (a, a + 1, 0.9999 if a in below_one else 1.0)
        for a in range(0, 120, 2) if a != 80
    ]

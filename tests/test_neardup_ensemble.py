"""neardup_ensemble (r7 VERDICT "do this" #7): union of verified
pairs from several methods with provenance, one adjudicated row per
pair, and ONE component label across the whole union — including a
pair found by exactly one method each, and a transitive cluster whose
edges each came from a different method."""

from __future__ import annotations

import pytest

from serverless_podcast_etl_spark.operators.dedup import (
    ensemble_dedup_keep_first,
    neardup_ensemble,
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_method_exclusive_pairs_and_provenance(spark):
    # (1,2) found by minhash only; (3,4) by simhash only; (5,6) by
    # embedding only; (7,8) by ALL three (simhash emits it reversed)
    out = neardup_ensemble(
        {
            "minhash": _pairs(spark, [(1, 2), (7, 8)]),
            "simhash": _pairs(spark, [(3, 4), (8, 7)]),
            "embedding": _pairs(spark, [(5, 6), (7, 8)]),
        }
    ).collect()
    by_pair = {(r["id_a"], r["id_b"]): r for r in out}
    assert set(by_pair) == {(1, 2), (3, 4), (5, 6), (7, 8)}
    assert by_pair[(1, 2)]["methods"] == "minhash"
    assert by_pair[(3, 4)]["methods"] == "simhash"
    assert by_pair[(5, 6)]["methods"] == "embedding"
    assert by_pair[(7, 8)]["methods"] == "embedding,minhash,simhash"
    assert by_pair[(7, 8)]["n_methods"] == 3
    assert all(
        r["n_methods"] == 1 for p, r in by_pair.items() if p != (7, 8)
    )
    # singleton pairs are their own components (min-id label)
    assert by_pair[(1, 2)]["component"] == 1
    assert by_pair[(5, 6)]["component"] == 5


def test_transitive_cluster_across_methods(spark):
    # 10-11 (minhash), 11-12 (simhash), 12-13 (embedding): one chain,
    # every edge from a DIFFERENT method — must land in ONE component
    out = neardup_ensemble(
        {
            "minhash": _pairs(spark, [(10, 11)]),
            "simhash": _pairs(spark, [(11, 12)]),
            "embedding": _pairs(spark, [(12, 13)]),
        }
    ).collect()
    assert len(out) == 3
    assert {r["component"] for r in out} == {10}
    assert {r["methods"] for r in out} == {"minhash", "simhash", "embedding"}


def test_duplicate_and_reversed_emissions_collapse(spark):
    # the same method emitting a pair twice (and once reversed) still
    # yields one row with n_methods == 1
    out = neardup_ensemble(
        {"minhash": _pairs(spark, [(1, 2), (2, 1), (1, 2)])}
    ).collect()
    assert len(out) == 1
    assert out[0]["methods"] == "minhash"
    assert out[0]["n_methods"] == 1
    assert out[0]["component"] == 1


def test_empty_sources_rejected(spark):
    with pytest.raises(ValueError, match="at least one method"):
        neardup_ensemble({})
    with pytest.raises(ValueError, match="at least one method"):
        ensemble_dedup_keep_first(
            _pairs(spark, [(1, 2)]).withColumnRenamed("id_a", "doc_id"),
            {},
            id_col="doc_id",
        )


def test_applied_ensemble_dedup(spark):
    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    # chain 0-1 (minhash) and 1-2 (embedding) merges into component 0:
    # keep 0, drop 1 and 2.  Pair (4, 1000000) has an OUT-OF-CORPUS
    # endpoint with the smaller-id corpus doc as representative — 4
    # must survive.  Pair (1000001, 5): the synthetic id is the
    # component min... it is NOT (5 < 1000001), so 5 survives too.
    out = ensemble_dedup_keep_first(
        corpus,
        {
            "minhash": _pairs(spark, [(0, 1)]),
            "embedding": _pairs(spark, [(1, 2), (4, 1_000_000), (1_000_001, 5)]),
        },
        id_col="doc_id",
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 3, 4, 5]


def test_applied_ensemble_dedup_foreign_min_cannot_orphan_component(spark):
    # r8 ADVICE hazard: an out-of-corpus endpoint that IS the
    # component minimum must NOT become the representative — that
    # would remove every real member and leave the component with
    # zero surviving corpus docs.  The representative is the min over
    # ids PRESENT in df: 10 survives; 11 (linked to 10 via the
    # foreign node 1) is the non-representative and is removed.
    corpus = spark.createDataFrame(
        [(10, "a"), (11, "b"), (12, "c")], "doc_id long, text string"
    )
    out = ensemble_dedup_keep_first(
        corpus,
        {"embedding": _pairs(spark, [(1, 10), (1, 11)])},
        id_col="doc_id",
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [10, 12]


def test_applied_ensemble_dedup_all_foreign_component_removes_nothing(spark):
    # a component with NO df member cannot remove anything
    corpus = spark.createDataFrame(
        [(10, "a"), (11, "b")], "doc_id long, text string"
    )
    out = ensemble_dedup_keep_first(
        corpus,
        {"embedding": _pairs(spark, [(1, 2)])},
        id_col="doc_id",
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [10, 11]


def test_shared_token_hash_scan_parity(spark, sf_dir):
    """opt-r15 (guide §2.1): the MinHash and SimHash detectors fed by
    ONE shared tokenize→md5 scan (``shared_token_hash48``) emit
    bit-identical pairs to their standalone scans — the 32-bit token
    hash is the low half of the materialized 48-bit hash, the SimHash
    token hash its top 8 hex digits."""
    from serverless_podcast_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        shared_token_hash48,
        simhash_fingerprints,
        simhash_neardup_pairs,
    )
    from serverless_podcast_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    th48 = shared_token_hash48(docs, "text", "doc_id")

    base_mh = sorted(
        map(tuple, minhash_lsh_pairs(
            docs, "text", "doc_id", verify_threshold=0.3,
        ).collect())
    )
    shared_mh = sorted(
        map(tuple, minhash_lsh_pairs(
            docs, "text", "doc_id", verify_threshold=0.3, hashes48=th48,
        ).collect())
    )
    assert base_mh == shared_mh and base_mh

    base_sh = sorted(
        map(tuple, simhash_neardup_pairs(
            docs, "text", "doc_id", max_hamming=3,
        ).collect())
    )
    shared_sh = sorted(
        map(tuple, simhash_neardup_pairs(
            docs, "text", "doc_id", max_hamming=3,
            hashes48=th48,
        ).collect())
    )
    assert base_sh == shared_sh

    # fingerprints themselves identical, not just the verified pairs
    base_fp = sorted(
        map(tuple, simhash_fingerprints(docs, "text", "doc_id").collect())
    )
    shared_fp = sorted(
        map(tuple, simhash_fingerprints(
            docs, "text", "doc_id", hashes48=th48
        ).collect())
    )
    assert base_fp == shared_fp and base_fp


def test_shared_scan_rejects_another_corpus(spark, sf_dir):
    """A consumer handed a shared scan of a DIFFERENT frame raises
    instead of returning pairs over the scan's corpus; the same frame,
    or a fresh load of the same table, is accepted."""
    from pyspark.sql import functions as F

    from serverless_podcast_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        shared_token_hash48,
        shingles,
        simhash_neardup_pairs,
    )
    from serverless_podcast_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    th48 = shared_token_hash48(docs, "text", "doc_id", shingle_n=3)
    subset = docs.filter(F.col("doc_id") % 2 == 0)
    for detector in (
        lambda d: minhash_lsh_pairs(d, "text", "doc_id", hashes48=th48),
        lambda d: minhash_lsh_pairs(d, "text", "doc_id", n=2, hashes48=th48),
        lambda d: ngram_jaccard_pairs(d, "text", "doc_id", hashes48=th48),
        lambda d: simhash_neardup_pairs(d, "text", "doc_id", hashes48=th48),
    ):
        with pytest.raises(ValueError, match="shared_token_hash48 scan"):
            detector(subset)
    # a fresh load of the same table passes (a plan comparison, no job)
    shingles(load_table(spark, sf_dir, "documents"), "text", "doc_id",
             hashes48=th48)
    # a frame derived from the scan no longer carries its provenance
    with pytest.raises(ValueError, match="shared_token_hash48 scan"):
        shingles(docs, "text", "doc_id",
                 hashes48=th48.select("doc_id", "_th48"))


def test_shared_scan_with_prefolded_shingles_parity(spark, sf_dir):
    """shingle_n on the shared scan stores the pre-folded shingle
    arrays in the SAME checkpoint; MinHash output must stay
    bit-identical, and a NON-matching width must fall back to folding
    from the 48-bit hashes (the self-verifying column name)."""
    from serverless_podcast_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        shared_token_hash48,
    )
    from serverless_podcast_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = sorted(
        map(tuple, minhash_lsh_pairs(
            docs, "text", "doc_id", verify_threshold=0.3,
        ).collect())
    )
    th48_match = shared_token_hash48(docs, "text", "doc_id", shingle_n=3)
    assert "_h32s3" in th48_match.columns
    got = sorted(
        map(tuple, minhash_lsh_pairs(
            docs, "text", "doc_id", verify_threshold=0.3, hashes48=th48_match,
        ).collect())
    )
    assert got == base and base
    # width mismatch: n=2 request against an n=3 pre-fold must fold
    # its own 2-gram space from _th48 (not read the 3-gram arrays)
    from serverless_podcast_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    base2 = sorted(
        map(tuple, ngram_jaccard_pairs(
            docs, "text", "doc_id", n=2, threshold=0.3, max_doc_freq=50,
        ).collect())
    )
    got2 = sorted(
        map(tuple, ngram_jaccard_pairs(
            docs, "text", "doc_id", n=2, threshold=0.3, max_doc_freq=50,
            hashes48=th48_match,
        ).collect())
    )
    assert got2 == base2 and base2

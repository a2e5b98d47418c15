"""r10 additions: selection target-coverage audit (q101) and
vocabulary OOV-rate scoring (q102).  Cross-engine exactness is
certified by their catalog oracles; these tests pin the SEMANTICS."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_podcast_etl_spark.functions.textstats import (
    build_vocabulary,
    vocab_oov_scores,
)
from serverless_podcast_etl_spark.operators.selection import (
    target_coverage_audit,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- q101


def _separated_corpus(spark):
    """Target docs (ids 1-3) speak one vocabulary, the rest (4-9)
    another — affinity selection should recover the target-side docs
    and therefore cover (almost) all target buckets."""
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "beta gamma delta epsilon"),
        (3, "alpha gamma epsilon beta"),
        (4, "zz yy xx ww"),
        (5, "ww vv uu zz"),
        (6, "xx uu vv yy"),
        (7, "qq rr ss tt"),
        (8, "tt ss rr qq"),
        (9, "rr qq tt ss"),
    ]
    return _docs(spark, rows)


def test_coverage_audit_shape_and_bounds(spark):
    raw = _separated_corpus(spark)
    out = target_coverage_audit(
        raw,
        "text",
        "doc_id",
        k=3,
        target_predicate=F.col("doc_id") <= 3,
    ).collect()
    assert [r["method"] for r in out] == ["affinity", "digest"]
    for r in out:
        assert 0 <= r["covered_buckets"] <= r["target_buckets"]
        assert r["coverage_pct"] == pytest.approx(
            r["covered_buckets"] / r["target_buckets"], abs=1e-6
        )


def test_affinity_selection_covers_target_fully_on_separated_corpus(
    spark,
):
    raw = _separated_corpus(spark)
    out = {
        r["method"]: r
        for r in target_coverage_audit(
            raw,
            "text",
            "doc_id",
            k=3,
            target_predicate=F.col("doc_id") <= 3,
        ).collect()
    }
    # the affinity top-3 IS the target subset here (its vocabulary is
    # disjoint from the rest), so it covers every target bucket
    aff = out["affinity"]
    assert aff["covered_buckets"] == aff["target_buckets"]
    assert aff["coverage_pct"] == 1.0
    # and targeted selection beats the blind digest baseline (which
    # mixes in off-target docs that contribute no target buckets)
    assert aff["coverage_pct"] >= out["digest"]["coverage_pct"]


def test_precomputed_selection_ids_skip_the_refit_and_agree(spark):
    from serverless_podcast_etl_spark.operators.selection import (
        select_by_target_affinity,
    )

    raw = _separated_corpus(spark)
    pred = F.col("doc_id") <= 3
    precomputed = select_by_target_affinity(
        raw, None, "text", "doc_id", k=3, target_predicate=pred
    ).select("doc_id")
    via_ids = target_coverage_audit(
        raw, "text", "doc_id", k=3,
        target_predicate=pred, selection_ids=precomputed,
    ).collect()
    self_contained = target_coverage_audit(
        raw, "text", "doc_id", k=3, target_predicate=pred
    ).collect()
    assert via_ids == self_contained


# ---------------------------------------------------------------- q102


def test_build_vocabulary_count_then_token_tiebreak(spark):
    df = _docs(
        spark,
        [
            (1, "bb bb aa aa cc"),
            (2, "dd cc"),
        ],
    )
    # counts: aa=2 bb=2 cc=2 dd=1 -> top-2 by (count desc, token asc)
    assert build_vocabulary(df, "text", 2) == ["aa", "bb"]
    assert build_vocabulary(df, "text", 3) == ["aa", "bb", "cc"]


def test_vocab_oov_rates(spark):
    df = _docs(
        spark,
        [
            (1, "aa aa bb"),     # all in top-2 vocab -> 0.0
            (2, "aa zz"),        # 1 of 2 OOV -> 0.5
            (3, "zz yy xx qq"),  # hmm: these each occur once
        ],
    )
    # counts: aa=3 bb=1 zz=2 ... top-2 = aa, zz (count desc, token asc:
    # aa=3; zz=2; bb/xx/yy/qq=1)
    out = {
        r["doc_id"]: r
        for r in vocab_oov_scores(
            df, "text", "doc_id", vocab_size=2
        ).collect()
    }
    assert out[1]["n_tokens"] == 3 and out[1]["oov_tokens"] == 1  # bb OOV
    assert out[2]["oov_tokens"] == 0  # aa, zz both in vocab
    assert out[3]["n_tokens"] == 4 and out[3]["oov_tokens"] == 3
    assert out[3]["oov_rate"] == pytest.approx(0.75)


def test_vocab_oov_tokenless_docs_emit_no_row(spark):
    df = _docs(spark, [(1, "aa bb"), (2, "   "), (3, "")])
    out = vocab_oov_scores(df, "text", "doc_id", vocab_size=8).collect()
    assert sorted(r["doc_id"] for r in out) == [1]


def test_vocab_oov_literal_and_join_paths_agree(spark):
    df = _docs(
        spark,
        [
            (1, "aa aa bb cc"),
            (2, "dd ee aa"),
            (3, "ff ff ff aa bb"),
            (4, "gg"),
        ],
    )
    lit_path = sorted(
        map(
            tuple,
            vocab_oov_scores(df, "text", "doc_id", vocab_size=3).collect(),
        )
    )
    join_path = sorted(
        map(
            tuple,
            vocab_oov_scores(
                df, "text", "doc_id", vocab_size=3, literal_max=0
            ).collect(),
        )
    )
    assert lit_path == join_path


# ------------------------------------------------- DuckDB differentials
# The catalog oracles certify q101/q102 on the fixed testdata; these
# hypothesis differentials run the SAME twins over random corpora and
# random k/V, so the cross-engine claim doesn't rest on one corpus
# shape (the q79 canonical_url certification style).

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from serverless_podcast_etl_spark.functions.textstats import (  # noqa: E402
    vocab_oov_sql,
)
from serverless_podcast_etl_spark.plans.catalog import (  # noqa: E402
    _target_coverage_sql,
)

_TOK = st.sampled_from(["aa", "bb", "cc", "dd", "zz", "yy"])
_TEXT = st.lists(_TOK, min_size=0, max_size=6).map(" ".join)
_CORPUS = st.lists(
    st.tuples(_TEXT, st.sampled_from(["en", "de"])),
    min_size=1,
    max_size=9,
)


@settings(max_examples=10, deadline=None)
@given(_CORPUS, st.integers(min_value=1, max_value=5))
def test_coverage_audit_matches_duckdb_twin_on_random_corpora(
    spark, rows, k
):
    # guarantee a non-empty target so coverage_pct is well-defined in
    # both engines (the operator itself null-guards via try_divide)
    rows = [*rows, ("aa bb cc", "en")]
    df = spark.createDataFrame(
        [(i + 1, t, lang) for i, (t, lang) in enumerate(rows)],
        "doc_id long, text string, lang string",
    )
    got = [
        tuple(r)
        for r in target_coverage_audit(
            df,
            "text",
            "doc_id",
            k=k,
            num_buckets=64,
            target_predicate=F.col("lang") == "en",
        ).collect()
    ]
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {
                "doc_id": [i + 1 for i in range(len(rows))],
                "text": [t for t, _ in rows],
                "lang": [lang for _, lang in rows],
            }
        ),
    )
    want = [
        tuple(r)
        for r in con.execute(
            _target_coverage_sql(k=k, num_buckets=64)
        ).fetchall()
    ]
    assert len(got) == len(want) == 2
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-9)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(_TEXT, min_size=1, max_size=9),
    st.integers(min_value=1, max_value=5),
)
def test_vocab_oov_matches_duckdb_twin_on_random_corpora(
    spark, texts, vocab_size
):
    df = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = sorted(
        tuple(r)
        for r in vocab_oov_scores(
            df, "text", "doc_id", vocab_size=vocab_size
        ).collect()
    )
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {
                "doc_id": [i + 1 for i in range(len(texts))],
                "text": texts,
            }
        ),
    )
    want = sorted(
        tuple(r) for r in con.execute(vocab_oov_sql(vocab_size)).fetchall()
    )
    assert got == want

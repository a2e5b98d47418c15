"""q104 span-level eval-set decontamination (r10): benchmark k-gram
spans stripped from corpus docs, documents otherwise kept.
Cross-engine exactness is certified by the catalog oracle; these
tests pin the SEMANTICS."""

from __future__ import annotations

from serverless_podcast_etl_spark.operators.dedup import (
    decontamination_spans,
    strip_contamination,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contaminated_span_is_stripped_and_clean_docs_pass(spark):
    bench = _docs(spark, [(100, "s1 s2 s3 the secret answer is x")])
    corpus = _docs(
        spark,
        [
            # leaks bench tokens 3..7 ("the secret answer is x") inside
            # an otherwise-good page
            (1, "intro words here the secret answer is x outro words"),
            (2, "completely unrelated clean document text"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in strip_contamination(
            corpus, bench, "text", "doc_id", k=5
        ).collect()
    }
    assert out[1]["n_tokens_before"] == 10
    # the leaked 5-gram covers tokens 3..7 -> 5 tokens removed
    assert out[1]["n_tokens_after"] == 5
    assert out[1]["text_stripped"] == "intro words here outro words"
    # clean doc untouched
    assert out[2]["n_tokens_after"] == out[2]["n_tokens_before"] == 5
    assert out[2]["text_stripped"] == "completely unrelated clean document text"


def test_adjacent_windows_merge_to_one_span(spark):
    # the whole corpus doc IS benchmark text: every window flags, and
    # the island merge must produce ONE maximal span covering it all
    bench = _docs(spark, [(100, "a b c d e f")])
    corpus = _docs(spark, [(1, "a b c d e f")])
    spans = decontamination_spans(
        corpus, bench, "text", "doc_id", k=3
    ).collect()
    assert len(spans) == 1
    s = spans[0]
    assert (s["span_start"], s["span_end"], s["n_windows"]) == (0, 5, 4)
    out = strip_contamination(corpus, bench, "text", "doc_id", k=3).collect()
    assert out[0]["n_tokens_after"] == 0 and out[0]["text_stripped"] == ""


def test_no_overlap_produces_no_spans(spark):
    bench = _docs(spark, [(100, "p q r s t")])
    corpus = _docs(spark, [(1, "a b c d e")])
    assert (
        decontamination_spans(corpus, bench, "text", "doc_id", k=3).count()
        == 0
    )


# ------------------------------------------------ Python differential
# Independent reference implementation over hypothesis-generated
# corpora: benchmark k-grams located as raw TOKEN TUPLES (no hashing),
# positions merged to maximal spans, tokens stripped — so the operator
# is certified against the SEMANTICS, not against its own md5-fold
# machinery.

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_TOK = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_TEXT = st.lists(_TOK, min_size=0, max_size=10).map(" ".join)


def _ref_strip(corpus, benchmark, k):
    bench_grams = set()
    for text in benchmark:
        toks = [t for t in text.lower().split() if t]
        for i in range(len(toks) - k + 1):
            bench_grams.add(tuple(toks[i : i + k]))
    out = {}
    for doc_id, text in corpus:
        toks = [t for t in text.lower().split() if t]
        flagged = [
            i
            for i in range(len(toks) - k + 1)
            if tuple(toks[i : i + k]) in bench_grams
        ]
        covered = set()
        for i in flagged:
            covered.update(range(i, i + k))
        kept = [t for i, t in enumerate(toks) if i not in covered]
        out[doc_id] = (len(toks), len(kept), " ".join(kept))
    return out


@settings(max_examples=15, deadline=None)
@given(
    st.lists(_TEXT, min_size=1, max_size=8),
    st.lists(_TEXT, min_size=1, max_size=4),
    st.integers(min_value=2, max_value=4),
)
def test_strip_matches_python_reference(spark, corpus_texts, bench_texts, k):
    corpus_rows = [(i + 1, t) for i, t in enumerate(corpus_texts)]
    corpus = _docs(spark, corpus_rows)
    bench = _docs(
        spark, [(100 + i, t) for i, t in enumerate(bench_texts)]
    )
    got = {
        r["doc_id"]: (
            r["n_tokens_before"],
            r["n_tokens_after"],
            r["text_stripped"],
        )
        for r in strip_contamination(
            corpus, bench, "text", "doc_id", k=k
        ).collect()
    }
    assert got == _ref_strip(corpus_rows, bench_texts, k)

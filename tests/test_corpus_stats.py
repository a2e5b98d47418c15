"""q105–q110 (r11): token-window chunking, n-gram novelty, source
TV-divergence, collocation lift, vocab coverage curve, containment
near-dup.  Cross-engine exactness is certified
by the catalog oracle; these tests pin the SEMANTICS, each with a
hypothesis differential against a plain-Python reimplementation."""

from __future__ import annotations

import math
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from serverless_podcast_etl_spark.operators.chunking import (
    chunk_token_windows,
)
from serverless_podcast_etl_spark.operators.corpus_stats import (
    collocation_lift,
    ngram_novelty_scores,
    source_divergence,
)

# -- shared plain-Python twins ---------------------------------------------


def _py_tokens(text: str) -> list[str]:
    return [t for t in text.lower().split() if t]


def _py_chunks(text: str, window: int, stride: int):
    toks = _py_tokens(text)
    if not toks:
        return []
    n = len(toks)
    n_chunks = 1 + max(0, math.ceil((n - window) / stride))
    out = []
    for i in range(n_chunks):
        start = i * stride
        chunk = toks[start : start + window]
        out.append((i, start, len(chunk), " ".join(chunk)))
    return out


def _docs(spark, texts, extra=None):
    rows = [(i + 1, t) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id long, text string")


# -- q105 chunking ----------------------------------------------------------


def test_chunking_overlap_and_tail(spark):
    # 7 tokens, window 4, stride 2 → starts 0,2,4 (last covers tail)
    out = chunk_token_windows(
        _docs(spark, ["a b c d e f g"]), "text", "doc_id",
        window=4, stride=2,
    ).orderBy("chunk_index").collect()
    got = [
        (r["chunk_index"], r["start_token"], r["chunk_tokens"], r["chunk_text"])
        for r in out
    ]
    assert got == [
        (0, 0, 4, "a b c d"),
        (1, 2, 4, "c d e f"),
        (2, 4, 3, "e f g"),
    ]


def test_chunking_short_doc_is_one_chunk_and_empty_doc_is_none(spark):
    out = chunk_token_windows(
        _docs(spark, ["x y", "   "]), "text", "doc_id", window=8, stride=4
    ).collect()
    assert len(out) == 1
    assert out[0]["doc_id"] == 1
    assert out[0]["chunk_text"] == "x y"


@settings(max_examples=25, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=60), min_size=1, max_size=5
    ),
    window=st.integers(min_value=1, max_value=6),
    stride=st.integers(min_value=1, max_value=6),
)
def test_chunking_matches_python(spark, texts, window, stride):
    got = {
        (r["doc_id"], r["chunk_index"], r["start_token"], r["chunk_tokens"], r["chunk_text"])
        for r in chunk_token_windows(
            _docs(spark, texts), "text", "doc_id", window=window, stride=stride
        ).collect()
    }
    want = {
        (i + 1, ci, start, n, text)
        for i, t in enumerate(texts)
        for (ci, start, n, text) in _py_chunks(t, window, stride)
    }
    assert got == want


# -- q106 novelty -----------------------------------------------------------


def test_novelty_separates_unique_from_shared(spark):
    # docs 1 and 2 share every 2-gram (identical text); doc 3 is unique
    df = _docs(spark, ["p q r s", "p q r s", "u v w x"])
    out = {
        r["doc_id"]: (r["n_grams"], r["novel_grams"], r["novelty_rate"])
        for r in ngram_novelty_scores(df, "text", "doc_id", n=2).collect()
    }
    assert out[1] == (3, 0, 0.0)
    assert out[2] == (3, 0, 0.0)
    assert out[3] == (3, 3, 1.0)


def _py_novelty(texts, n):
    grams = {
        i + 1: {
            tuple(toks[j : j + n])
            for j in range(len(toks) - n + 1)
        }
        for i, t in enumerate(texts)
        for toks in [_py_tokens(t)]
    }
    df = Counter(g for s in grams.values() for g in s)
    return {
        i: (
            len(s),
            sum(1 for g in s if df[g] == 1),
            round(sum(1 for g in s if df[g] == 1) / len(s), 6),
        )
        for i, s in grams.items()
        if s
    }


@settings(max_examples=20, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="xy z", min_size=0, max_size=40), min_size=1, max_size=6
    ),
    n=st.integers(min_value=1, max_value=3),
)
def test_novelty_matches_python(spark, texts, n):
    got = {
        r["doc_id"]: (r["n_grams"], r["novel_grams"], r["novelty_rate"])
        for r in ngram_novelty_scores(
            _docs(spark, texts), "text", "doc_id", n=n
        ).collect()
    }
    assert got == _py_novelty(texts, n)


# -- q107 source divergence -------------------------------------------------


def _src_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_divergence_zero_for_identical_distributions(spark):
    df = _src_docs(
        spark,
        [(1, "a a b", "s1"), (2, "a a b", "s2")],
    )
    out = source_divergence(df, "text", "doc_id", "source").collect()
    assert {r["source"] for r in out} == {"s1", "s2"}
    for r in out:
        assert r["tv_divergence"] == 0.0
        assert r["n_tokens"] == 3
        assert r["n_distinct_tokens"] == 2


def test_divergence_disjoint_vocabularies(spark):
    # two equal-mass sources with disjoint vocab: p_s vs global differs
    # by 0.5 on every token → TV = 0.5 for both
    df = _src_docs(spark, [(1, "a a", "s1"), (2, "b b", "s2")])
    out = source_divergence(df, "text", "doc_id", "source").collect()
    for r in out:
        assert r["tv_divergence"] == 0.5


def _py_divergence(rows):
    per: dict[str, Counter] = {}
    for _i, text, src in rows:
        per.setdefault(src, Counter()).update(_py_tokens(text))
    per = {s: c for s, c in per.items() if c}
    glob = Counter()
    for c in per.values():
        glob.update(c)
    n = sum(glob.values())
    out = {}
    for s, c in per.items():
        ns = sum(c.values())
        tv = 0.5 * sum(
            abs(c.get(t, 0) / ns - glob[t] / n) for t in glob
        )
        out[s] = (ns, len(c), round(tv, 6))
    return out


@settings(max_examples=20, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.just(0),
            st.text(alphabet="pq r", min_size=1, max_size=30),
            st.sampled_from(["s1", "s2", "s3"]),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_divergence_matches_python(spark, rows):
    rows = [(i + 1, t, s) for i, (_z, t, s) in enumerate(rows)]
    if not any(_py_tokens(t) for _i, t, _s in rows):
        return
    got = {
        r["source"]: (r["n_tokens"], r["n_distinct_tokens"], r["tv_divergence"])
        for r in source_divergence(
            _src_docs(spark, rows), "text", "doc_id", "source"
        ).collect()
    }
    want = _py_divergence(rows)
    assert set(got) == set(want)
    for s in want:
        assert got[s][0] == want[s][0]
        assert got[s][1] == want[s][1]
        assert abs(got[s][2] - want[s][2]) <= 1e-6


# -- q108 collocation lift ---------------------------------------------------


def test_collocation_planted_pair_ranks_first(spark):
    # "new york" always co-occurs; filler words are independent
    texts = ["new york %s" % w for w in ["aa bb", "bb cc", "cc aa", "aa cc"]]
    out = collocation_lift(
        _docs(spark, texts), "text", "doc_id", min_count=2, top_k=3
    ).collect()
    assert (out[0]["word1"], out[0]["word2"]) == ("new", "york")
    assert out[0]["pair_count"] == 4


def _py_lift(texts, min_count, top_k):
    uni = Counter()
    bi = Counter()
    for t in texts:
        toks = _py_tokens(t)
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    n = sum(uni.values())
    rows = [
        (w1, w2, c, round(c * n / (uni[w1] * uni[w2]), 6))
        for (w1, w2), c in bi.items()
        if c >= min_count
    ]
    rows.sort(key=lambda r: (-r[3], r[0], r[1]))
    return rows[:top_k]


@settings(max_examples=20, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="mn o", min_size=0, max_size=30), min_size=1, max_size=6
    ),
    min_count=st.integers(min_value=1, max_value=3),
)
def test_collocation_matches_python(spark, texts, min_count):
    got = [
        (r["word1"], r["word2"], r["pair_count"], r["lift"])
        for r in collocation_lift(
            _docs(spark, texts), "text", "doc_id",
            min_count=min_count, top_k=100,
        ).collect()
    ]
    want = _py_lift(texts, min_count, 100)
    # the Spark sort is (lift DESC, word1, word2) — compare as sets
    # plus the top row (ties inside equal lift keep both orders equal
    # under the same tie-break, so full-list equality holds)
    assert got == want


# -- q109 vocab coverage curve ------------------------------------------------


def test_vocab_coverage_curve_order_and_fractions(spark):
    from serverless_podcast_etl_spark.functions.textstats import (
        vocab_coverage_curve,
    )

    # counts: a=4, b=2, c=2, d=1, e=1 (ties broken token-ASC)
    df = _docs(spark, ["a a b c", "a b c d", "a e"])
    out = vocab_coverage_curve(df, "text", top_n=3).orderBy("rank").collect()
    got = [
        (r["rank"], r["token"], r["token_count"], r["cum_fraction"])
        for r in out
    ]
    assert got == [
        (1, "a", 4, 0.4),
        (2, "b", 2, 0.6),
        (3, "c", 2, 0.8),
    ]


def _py_coverage(texts, top_n):
    uni = Counter()
    for t in texts:
        uni.update(_py_tokens(t))
    total = sum(uni.values())
    rows = sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]
    out, cum = [], 0
    for i, (tok, c) in enumerate(rows, start=1):
        cum += c
        out.append((i, tok, c, round(cum / total, 6)))
    return out


@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="fg h", min_size=1, max_size=30), min_size=1, max_size=5
    ),
    top_n=st.integers(min_value=1, max_value=6),
)
def test_vocab_coverage_matches_python(spark, texts, top_n):
    from serverless_podcast_etl_spark.functions.textstats import (
        vocab_coverage_curve,
    )

    if not any(_py_tokens(t) for t in texts):
        return
    got = [
        (r["rank"], r["token"], r["token_count"], r["cum_fraction"])
        for r in vocab_coverage_curve(_docs(spark, texts), "text", top_n=top_n)
        .orderBy("rank")
        .collect()
    ]
    assert got == _py_coverage(texts, top_n)


# -- q110 containment near-dup ------------------------------------------------


def test_containment_catches_doc_inside_doc(spark):
    from serverless_podcast_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(20))
    df = _docs(spark, [short, long])
    got = containment_pairs(
        df, "text", "doc_id", n=3, threshold=0.5, max_doc_freq=None
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment_a"] == 1.0  # every shingle of the short doc
    assert r["containment"] == 1.0
    # the symmetric form misses it: Jaccard ~ |A|/|B| << 0.5
    assert (
        ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5).count()
        == 0
    )


def test_containment_df_cap_removes_boilerplate_pairs(spark):
    from serverless_podcast_etl_spark.operators.dedup import containment_pairs

    # every doc shares one boilerplate shingle; no real containment
    texts = [f"common boiler plate unique{i} only{i} here{i}" for i in range(5)]
    df = _docs(spark, texts)
    uncapped = containment_pairs(
        df, "text", "doc_id", n=3, threshold=0.2, max_doc_freq=None
    ).count()
    capped = containment_pairs(
        df, "text", "doc_id", n=3, threshold=0.2, max_doc_freq=2
    ).count()
    assert uncapped > 0
    assert capped == 0


def _py_containment(texts, n, threshold, cap):
    sets = {}
    for i, t in enumerate(texts, start=1):
        toks = _py_tokens(t)
        s = {tuple(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        if s:
            sets[i] = s
    if cap is not None:
        df = Counter(g for s in sets.values() for g in s)
        sets = {
            i: {g for g in s if df[g] <= cap} for i, s in sets.items()
        }
        sets = {i: s for i, s in sets.items() if s}
    out = []
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            shared = len(sets[a] & sets[b])
            if not shared:
                continue
            ca = round(shared / len(sets[a]), 4)
            cb = round(shared / len(sets[b]), 4)
            cm = round(max(shared / len(sets[a]), shared / len(sets[b])), 4)
            if cm >= threshold:
                out.append((a, b, shared, ca, cb, cm))
    return sorted(out)


@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="uv w", min_size=0, max_size=40), min_size=2, max_size=5
    ),
    cap=st.sampled_from([None, 2, 3]),
)
def test_containment_matches_python(spark, texts, cap):
    from serverless_podcast_etl_spark.operators.dedup import containment_pairs

    got = sorted(
        (
            r["id_a"], r["id_b"], r["n_shared"],
            r["containment_a"], r["containment_b"], r["containment"],
        )
        for r in containment_pairs(
            _docs(spark, texts), "text", "doc_id",
            n=2, threshold=0.3, max_doc_freq=cap,
        ).collect()
    )
    assert got == _py_containment(texts, 2, 0.3, cap)


# -- q111 embedding norm outliers ---------------------------------------------


def test_norm_outliers_flag_corrupted_vectors(spark):
    from serverless_podcast_etl_spark.operators.similarity import (
        embedding_norm_outliers,
    )

    rows = [(i, [1.0, 0.0, float(i) / 100.0]) for i in range(1, 20)]
    rows += [(100, [25.0, 0.0, 0.0]), (101, [0.0, 0.0, 0.0])]  # corrupt
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in embedding_norm_outliers(df, "vec_id").collect()}
    assert len(out) == 21
    assert out[100]["is_outlier"] == 1   # 25x-norm row
    assert out[101]["is_outlier"] == 1   # zeroed row
    flagged = [i for i, r in out.items() if r["is_outlier"] == 1]
    assert set(flagged) == {100, 101}


def test_norm_outliers_uniform_corpus_flags_nothing(spark):
    from serverless_podcast_etl_spark.operators.similarity import (
        embedding_norm_outliers,
    )

    rows = [(i, [3.0, 4.0]) for i in range(10)]  # all norm 5.0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_norm_outliers(df, "vec_id").collect()
    assert all(r["norm"] == 5.0 for r in out)
    assert all(r["is_outlier"] == 0 for r in out)


# -- q112 tokenizer fertility -------------------------------------------------


def test_fertility_counts_per_group(spark):
    from serverless_podcast_etl_spark.functions.textstats import (
        tokenizer_fertility_stats,
    )

    # "aé" is 2 chars / 3 utf-8 bytes — bytes_per_token > chars_per_token
    rows = [
        (1, "aa bb", "en"),     # 2 toks, 5 chars, 5 bytes
        (2, "cc", "en"),        # 1 tok, 2 chars, 2 bytes
        (3, "aé", "fr"),   # 1 tok, 2 chars, 3 bytes
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["lang"]: r
        for r in tokenizer_fertility_stats(df, "text", "lang").collect()
    }
    en, fr = out["en"], out["fr"]
    assert (en["n_docs"], en["n_tokens"], en["n_chars"], en["n_bytes"]) == (2, 3, 7, 7)
    assert en["chars_per_token"] == round(7 / 3, 6)
    assert (fr["n_docs"], fr["n_tokens"], fr["n_chars"], fr["n_bytes"]) == (1, 1, 2, 3)
    assert fr["bytes_per_token"] == 3.0
    assert fr["chars_per_token"] == 2.0


def test_fertility_tokenless_group_reads_null_ratios(spark):
    from serverless_podcast_etl_spark.functions.textstats import (
        tokenizer_fertility_stats,
    )

    df = spark.createDataFrame(
        [(1, "   ", "zz")], "doc_id long, text string, lang string"
    )
    r = tokenizer_fertility_stats(df, "text", "lang").collect()[0]
    assert r["n_tokens"] == 0
    assert r["chars_per_token"] is None and r["bytes_per_token"] is None


# -- q113 duplicate chunk rate ------------------------------------------------


def test_duplicate_chunk_rate_flags_shared_blocks(spark):
    from serverless_podcast_etl_spark.operators.chunking import (
        duplicate_chunk_rate,
    )

    shared = "n1 n2 n3 n4"
    rows = [
        (1, shared + " a1 a2 a3 a4"),   # block 1 shared, block 2 unique
        (2, shared + " b1 b2 b3 b4"),   # block 1 shared, block 2 unique
        (3, "c1 c2 c3 c4 c1 c2 c3 c4"),  # self-repeating block
        (4, "d1 d2 d3 d4"),             # fully unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_chunks"], r["dup_chunks"], r["dup_chunk_rate"])
        for r in duplicate_chunk_rate(df, "text", "doc_id", window=4).collect()
    }
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (2, 1, 0.5)
    assert out[3] == (2, 2, 1.0)   # within-doc repeat counts too
    assert out[4] == (1, 0, 0.0)


def _py_dup_chunk(texts, window):
    from collections import Counter as C

    blocks = {}
    for i, t in enumerate(texts, start=1):
        toks = _py_tokens(t)
        if not toks:
            continue
        blocks[i] = [
            " ".join(toks[j : j + window])
            for j in range(0, len(toks), window)
        ]
    occ = C(b for bs in blocks.values() for b in bs)
    return {
        i: (
            len(bs),
            sum(1 for b in bs if occ[b] > 1),
            round(sum(1 for b in bs if occ[b] > 1) / len(bs), 6),
        )
        for i, bs in blocks.items()
    }


@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="jk l", min_size=0, max_size=30), min_size=1, max_size=6
    ),
    window=st.integers(min_value=1, max_value=4),
)
def test_duplicate_chunk_rate_matches_python(spark, texts, window):
    from serverless_podcast_etl_spark.operators.chunking import (
        duplicate_chunk_rate,
    )

    got = {
        r["doc_id"]: (r["n_chunks"], r["dup_chunks"], r["dup_chunk_rate"])
        for r in duplicate_chunk_rate(
            _docs(spark, texts), "text", "doc_id", window=window
        ).collect()
    }
    assert got == _py_dup_chunk(texts, window)


# -- q114 source quality profile ----------------------------------------------


def test_source_profile_flags_the_drifted_doc(spark):
    from serverless_podcast_etl_spark.functions.textstats import (
        source_quality_profile,
    )

    normal = "the cat sat on the mat and the dog ran to the hill"
    spam = "buy buy buy buy buy buy buy buy buy buy buy buy"  # 0 stopwords
    rows = [(i, normal + f" w{i}", "s1") for i in range(1, 10)]
    rows += [(99, spam, "s1")]
    rows += [(200 + i, normal + f" v{i}", "s2") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["source"]: r
        for r in source_quality_profile(df, "text", "source").collect()
    }
    assert out["s1"]["n_docs"] == 10
    assert out["s1"]["n_outliers"] == 1    # the spam doc
    assert out["s2"]["n_outliers"] == 0
    assert out["s2"]["mad_stopword_ratio"] == 0.0  # identical ratios


def test_source_profile_excludes_tokenless_docs(spark):
    from serverless_podcast_etl_spark.functions.textstats import (
        source_quality_profile,
    )

    df = spark.createDataFrame(
        [(1, "the cat sat", "s1"), (2, "   ", "s1")],
        "doc_id long, text string, source string",
    )
    r = source_quality_profile(df, "text", "source").collect()[0]
    assert r["n_docs"] == 1  # the whitespace-only doc carries no evidence


def _py_profile(rows, k=3.0):
    import statistics as _st

    per = {}
    for _i, text, src in rows:
        toks = _py_tokens(text)
        if not toks:
            continue
        stop = sum(1 for t in toks if t in {
            "the", "a", "an", "of", "and", "to", "in", "is", "it", "for"})
        per.setdefault(src, []).append(round(stop / len(toks), 4))
    out = {}
    for s, vs in per.items():
        med = _st.median(vs)
        devs = [round(abs(v - med), 6) for v in vs]
        mad = _st.median(devs)
        out[s] = (
            len(vs), round(med, 6), round(mad, 6),
            sum(1 for d in devs if d > k * mad),
        )
    return out


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.just(0),
            st.lists(
                st.sampled_from(["the", "and", "cat", "dog", "xy"]),
                min_size=1, max_size=8,
            ).map(" ".join),
            st.sampled_from(["s1", "s2"]),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_source_profile_matches_python(spark, rows):
    from serverless_podcast_etl_spark.functions.textstats import (
        source_quality_profile,
    )

    rows = [(i + 1, t, s) for i, (_z, t, s) in enumerate(rows)]
    got = {
        r["source"]: (
            r["n_docs"], r["median_stopword_ratio"],
            r["mad_stopword_ratio"], r["n_outliers"],
        )
        for r in source_quality_profile(
            spark.createDataFrame(
                rows, "doc_id long, text string, source string"
            ),
            "text",
            "source",
        ).collect()
    }
    assert got == _py_profile(rows)

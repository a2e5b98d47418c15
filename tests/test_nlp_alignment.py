"""J4 offset→sentence alignment, both boundary semantics:

* ``boundary="begin"`` (engine default, documented deviation):
  sentence = last span with start ≤ BeginOffset.
* ``boundary="reference"`` (bug-compatible): the reference cursor
  advances only on a strict ``BeginOffset > span_end``
  (src/lambda_72.py:92), so boundary-exact entities land in the
  PREVIOUS sentence.

``begin_cursor_align`` and ``reference_cursor_align`` re-implement the
two loops independently in Python; hypothesis checks each against its
as-of formula, and Spark tests check ``align_entities`` in both modes
on randomized batches.
"""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from serverless_podcast_etl_spark.pipeline.nlp import align_entities, sentence_spans


def spans_from_lengths(lengths: list[int]) -> list[tuple[int, int]]:
    """[start, end) per sentence; each sentence includes its trailing
    '\\n' (src/lambda_72.py:60,69)."""
    spans, start = [], 0
    for n in lengths:
        spans.append((start, start + n + 1))
        start += n + 1
    return spans


def begin_cursor_align(lengths: list[int], begins: list[int]) -> list[int]:
    """Begin-containment (engine default): advance while the begin
    offset is at/past the current span's end — each entity lands in
    the sentence whose [start, end) contains its BeginOffset."""
    spans = spans_from_lengths(lengths)
    out, idx = [], 0
    for b in sorted(begins):
        while idx < len(spans) - 1 and b >= spans[idx][1]:
            idx += 1
        out.append(idx)
    return out


def reference_cursor_align(lengths: list[int], begins: list[int]) -> list[int]:
    """Direct port of the reference loop's semantics
    (src/lambda_72.py:82-116): advance the sentence cursor only while
    ``lower_index > current_upper_index`` — STRICT, so an entity whose
    begin equals a span end (= the next span's start) stays with the
    current (previous) sentence."""
    spans = spans_from_lengths(lengths)
    out, idx = [], 0
    for b in sorted(begins):
        while idx < len(spans) - 1 and b > spans[idx][1]:
            idx += 1
        out.append(idx)
    return out


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=30),
    data=st.data(),
)
@settings(max_examples=300, deadline=None)
def test_begin_cursor_equals_asof_formula(lengths, data):
    """begin-containment cursor == last span with start <= begin."""
    total = sum(n + 1 for n in lengths)
    begins = data.draw(
        st.lists(st.integers(min_value=0, max_value=total - 1), min_size=1, max_size=50)
    )
    spans = spans_from_lengths(lengths)
    expect = begin_cursor_align(lengths, begins)
    for b, got_idx in zip(sorted(begins), expect):
        asof = max(i for i, (s, _) in enumerate(spans) if s <= b)
        assert asof == got_idx, (lengths, b)


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=30),
    data=st.data(),
)
@settings(max_examples=300, deadline=None)
def test_reference_cursor_equals_strict_asof_formula(lengths, data):
    """reference cursor == last span with start < begin (clamped to 0)
    — the strict as-of form align_entities(boundary='reference')
    executes."""
    total = sum(n + 1 for n in lengths)
    begins = data.draw(
        st.lists(st.integers(min_value=0, max_value=total - 1), min_size=1, max_size=50)
    )
    spans = spans_from_lengths(lengths)
    expect = reference_cursor_align(lengths, begins)
    for b, got_idx in zip(sorted(begins), expect):
        candidates = [i for i, (s, _) in enumerate(spans) if s < b]
        asof = max(candidates) if candidates else 0
        assert asof == got_idx, (lengths, b)


def _randomized_batch(rng):
    rows_sent, rows_ent, per_ep = [], [], {}
    for ep in range(1, 6):
        lengths = [rng.randint(3, 30) for _ in range(rng.randint(2, 12))]
        spans = spans_from_lengths(lengths)
        total = spans[-1][1]
        for i, n in enumerate(lengths):
            rows_sent.append((ep, i, "x" * n))
        begins = sorted(rng.sample(range(total), k=min(15, total)))
        # force boundary-exact begins into the mix so the two modes
        # provably diverge on this batch
        begins = sorted(set(begins) | {s for s, _ in spans[1:3]})
        per_ep[ep] = (lengths, begins)
        for j, b in enumerate(begins):
            rows_ent.append((ep, f"ent_{ep}_{j}", "PERSON", b, b + 3))
    return rows_sent, rows_ent, per_ep


def _check_mode(spark, boundary, cursor_fn):
    rng = random.Random(123)
    rows_sent, rows_ent, per_ep = _randomized_batch(rng)
    expected = {}
    for ep, (lengths, begins) in per_ep.items():
        for j, (b, sidx) in enumerate(zip(begins, cursor_fn(lengths, begins))):
            expected[(ep, f"ent_{ep}_{j}")] = sidx

    sentences = spark.createDataFrame(
        rows_sent, "episode_id long, sentence_index int, sentence_text string"
    )
    entities = spark.createDataFrame(
        rows_ent,
        "episode_id long, Text string, Type string, BeginOffset long, EndOffset long",
    )
    out = align_entities(entities, sentence_spans(sentences), boundary=boundary)
    got = {
        (r["episode_id"], r["entity_text"]): r["sentence_index"]
        for r in out.collect()
    }
    assert got == expected


def test_align_entities_begin_matches_cursor(spark):
    _check_mode(spark, "begin", begin_cursor_align)


def test_align_entities_reference_matches_reference_cursor(spark):
    _check_mode(spark, "reference", reference_cursor_align)


def test_straddle_and_boundary_semantics_both_modes(spark):
    """Messy capture: a straddling entity belongs to its BEGIN
    sentence in both modes.  Boundary equality is where they diverge:
    begin mode assigns the sentence starting at that offset, reference
    mode (strict cursor, src/lambda_72.py:92) the previous one."""
    sentences = spark.createDataFrame(
        [(1, 0, "abcde"), (1, 1, "fghij"), (1, 2, "klmno")],
        "episode_id long, sentence_index int, sentence_text string",
    )  # spans: [0,6) [6,12) [12,18)
    entities = spark.createDataFrame(
        [
            (1, "straddle", "PERSON", 4, 9),   # begins in s0, ends in s1
            (1, "boundary", "PERSON", 6, 8),   # begins exactly at s1 start
            (1, "inside", "PERSON", 13, 15),   # fully inside s2
            (1, "docstart", "PERSON", 0, 2),   # document-initial
        ],
        "episode_id long, Text string, Type string, BeginOffset long, EndOffset long",
    )
    spans_df = sentence_spans(sentences)

    begin = {
        r["entity_text"]: r["sentence_index"]
        for r in align_entities(entities, spans_df, boundary="begin").collect()
    }
    assert begin == {"straddle": 0, "boundary": 1, "inside": 2, "docstart": 0}

    ref = {
        r["entity_text"]: r["sentence_index"]
        for r in align_entities(entities, spans_df, boundary="reference").collect()
    }
    assert ref == {"straddle": 0, "boundary": 0, "inside": 2, "docstart": 0}


@given(
    lengths=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=25)
)
@settings(max_examples=10, deadline=None)
def test_prefix_sum_spans_contiguous(spark, lengths):
    """Property: spans start at 0, are contiguous (+1 separator), and
    each ends at start + len + 1 (A10; src/lambda_72.py:66-71)."""
    from serverless_podcast_etl_spark.operators.windows import prefix_sum_spans

    rows = [(1, i, n) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "ep long, idx int, _len int")
    out = (
        prefix_sum_spans(df, "_len", ["ep"], ["idx"])
        .orderBy("idx")
        .collect()
    )
    pos = 0
    for r, n in zip(out, lengths):
        assert r["start_offset"] == pos
        assert r["end_offset"] == pos + n + 1
        pos = r["end_offset"]

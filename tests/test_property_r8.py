"""Round-8 property tests.

1. ``funnel_steps`` vs an independent in-Python greedy-chaining
   reference over hypothesis-generated event streams — the same
   differential style as the CC union-find property test.
2. ``canonical_url`` vs the DuckDB twin expression the q79 oracle
   uses, over hypothesis-generated messy URLs — cross-engine
   certification beyond the synthetic corpus' three fixed shapes
   (case, www, params, param sorting, trailing slashes, fragments,
   and the non-URL NULL gate all fuzzed).
"""

from __future__ import annotations

from collections import defaultdict

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from serverless_podcast_etl_spark.functions.urls import canonical_url
from serverless_podcast_etl_spark.operators.funnels import funnel_steps

# ---------------------------------------------------------------------------
# funnel_steps vs greedy-chaining reference
# ---------------------------------------------------------------------------

_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # user
        st.sampled_from(["a", "b", "c"]),           # type
        st.integers(min_value=0, max_value=30),     # minute offset
    ),
    min_size=1,
    max_size=25,
)


def _ref_counts(events, steps, within_seconds):
    """Independent greedy-chaining reference (pure Python)."""
    by_user: dict[int, dict[str, list[int]]] = defaultdict(
        lambda: defaultdict(list)
    )
    for u, ty, t in events:
        by_user[u][ty].append(t * 60)
    counts = [0] * len(steps)
    for d in by_user.values():
        if steps[0] not in d:
            continue
        a1 = min(d[steps[0]])
        counts[0] += 1
        prev = a1
        for k, s in enumerate(steps[1:], start=1):
            cand = [
                t
                for t in d.get(s, [])
                if t >= prev
                and (within_seconds is None or t - a1 <= within_seconds)
            ]
            if not cand:
                break
            prev = min(cand)
            counts[k] += 1
    return counts


@settings(max_examples=12, deadline=None)
@given(_EVENTS, st.sampled_from([None, 0, 300, 600]))
def test_funnel_steps_matches_python_reference(spark, events, within):
    steps = ["a", "b", "c"]
    df = spark.createDataFrame(
        [
            (i, u, ty, f"2024-01-01 00:{t:02d}:00")
            for i, (u, ty, t) in enumerate(events)
        ],
        "event_id long, user_id long, event_type string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = funnel_steps(
        df,
        user_col="user_id",
        type_col="event_type",
        ts_col="ts",
        steps=steps,
        within_seconds=within,
    ).collect()
    got = [r["n_users"] for r in sorted(out, key=lambda r: r["step_index"])]
    assert got == _ref_counts(events, steps, within)
    # counts are non-increasing along the funnel by construction
    assert all(a >= b for a, b in zip(got, got[1:]))


# ---------------------------------------------------------------------------
# canonical_url vs the DuckDB twin
# ---------------------------------------------------------------------------

_SEG = st.text(
    alphabet="abXY19", min_size=1, max_size=4
)  # regex-safe component alphabet

_PARAM = st.one_of(
    st.sampled_from(
        ["utm_source=a", "UTM_X=1", "fbclid=z", "gclid=2", "REF=hn", "ref=x"]
    ),
    st.tuples(_SEG, _SEG).map(lambda kv: f"{kv[0]}={kv[1]}"),
)

_URL = st.builds(
    lambda scheme, www, host, segs, slashes, params, frag: (
        scheme
        + www
        + ".".join(host)
        + ("/" + "/".join(segs) if segs else "")
        + "/" * slashes
        + ("?" + "&".join(params) if params else "")
        + (("#" + frag) if frag is not None else "")
    ),
    scheme=st.sampled_from(
        ["https://", "http://", "HTTPS://", "HtTp://", "ftp://", ""]
    ),
    www=st.sampled_from(["", "www.", "WWW."]),
    host=st.lists(_SEG, min_size=1, max_size=3),
    segs=st.lists(_SEG, min_size=0, max_size=3),
    slashes=st.integers(min_value=0, max_value=2),
    params=st.lists(_PARAM, min_size=0, max_size=4),
    frag=st.one_of(st.none(), _SEG),
)

# The q79 oracle's canonicalization, with the same NULL gate the
# Spark expression applies to non-http(s) input.
_DUCK_CANON = r"""
SELECT i, url,
  CASE WHEN regexp_matches(url, '(?i)^https?://') THEN
    lower(regexp_extract(defrag, '(?i)^(https?)://', 1)) || '://'
    || regexp_replace(lower(regexp_extract(defrag, '(?i)^https?://([^/?#]+)', 1)),
                      '^www\.', '')
    || regexp_replace(regexp_extract(defrag, '(?i)^https?://[^/?#]*([^?#]*)', 1),
                      '/+$', '')
    || CASE WHEN params <> '' THEN '?' || params ELSE '' END
  END AS canon
FROM (SELECT i, url, defrag,
             array_to_string(list_sort(list_filter(
               str_split(regexp_extract(defrag, '\?([^#]*)', 1), '&'),
               p -> p <> '' AND NOT regexp_matches(p, '(?i)^(utm_[^=]*|fbclid|gclid|ref)=')
             )), '&') AS params
      FROM (SELECT i, url, regexp_replace(url, '#.*', '') AS defrag
            FROM urls_in))
ORDER BY i
"""


@settings(max_examples=12, deadline=None)
@given(st.lists(_URL, min_size=1, max_size=20))
def test_canonical_url_matches_duckdb_twin(spark, urls):
    sdf = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r["canon"]
        for r in sdf.select(
            canonical_url(F.col("url")).alias("canon")
        ).collect()
    ]
    con = duckdb.connect()
    con.register(
        "urls_in", pd.DataFrame({"i": range(len(urls)), "url": urls})
    )
    want = [r[2] for r in con.execute(_DUCK_CANON).fetchall()]
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# portable hashing: MinHash / SimHash signatures vs the DuckDB twins
# ---------------------------------------------------------------------------

_DOC_TEXT = st.one_of(
    # degenerate tier: token-less and sub-shingle-width docs — the
    # r8 fix's domain boundary (no signature row on either engine)
    st.sampled_from(["", " ", "  \t ", "one", "two tok"]),
    st.lists(
        st.text(alphabet="abcXYZ019", min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    ).map(" ".join),
)


@settings(max_examples=8, deadline=None)
@given(st.lists(_DOC_TEXT, min_size=1, max_size=12))
def test_minhash_signatures_match_duckdb_twin(spark, texts):
    """The portable md5-derived MinHash family must be BIT-IDENTICAL
    across engines on arbitrary token soups, not just the synthetic
    corpus — this is the foundation the whole LSH/banding/admission
    family's oracle exactness rests on."""
    from serverless_podcast_etl_spark.operators.dedup import (
        minhash_signatures,
    )
    from serverless_podcast_etl_spark.plans.catalog import _minhash_sql

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(8))
        for r in minhash_signatures(
            docs, text_col="text", id_col="doc_id"
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    want = {
        r[0]: tuple(r[1:9])
        for r in con.execute(_minhash_sql()).fetchall()
    }
    con.close()
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.lists(_DOC_TEXT, min_size=1, max_size=12))
def test_simhash_fingerprints_match_duckdb_twin(spark, texts):
    from serverless_podcast_etl_spark.operators.dedup import (
        simhash_fingerprints,
    )
    from serverless_podcast_etl_spark.plans.catalog import _simhash_sql

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(
            docs, text_col="text", id_col="doc_id"
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    want = {r[0]: r[1] for r in con.execute(_simhash_sql()).fetchall()}
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# PII scrub vs the DuckDB twin expressions
# ---------------------------------------------------------------------------

_PII_PIECE = st.one_of(
    st.text(alphabet="abcXYZ019 ", min_size=0, max_size=8),
    st.sampled_from(
        [
            "bob.smith+x@mail.example.com",
            "a@b.co",
            "a@b",                      # near-miss: no TLD
            "(555) 123-4567",
            "(55) 123-4567",            # near-miss: 2-digit area
            "10.0.0.1",
            "999.999.999.999",          # valid per pattern (\d{1,3})
            "1.2.3.4.5",                # adjacent octet run
            "x10.0.0.1",                # \b left edge blocked
        ]
    ),
)

_PII_TEXT = st.lists(_PII_PIECE, min_size=0, max_size=6).map(" ".join)


@settings(max_examples=10, deadline=None)
@given(st.lists(_PII_TEXT, min_size=1, max_size=15))
def test_pii_scrub_matches_duckdb_twin(spark, texts):
    """The Java-regex ∩ RE2 restriction is a CLAIM about pattern
    semantics — fuzz it: counts and the ordered redaction must agree
    on adversarial near-miss mixes, not just the synthetic corpus."""
    from serverless_podcast_etl_spark.functions.pii import (
        scrub,
        scrub_sql_exprs,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_emails"], r["n_phones"], r["n_ipv4"], r["text_redacted"]
        )
        for r in scrub(docs, text_col="text", id_col="doc_id").collect()
    }
    exprs = scrub_sql_exprs("text")
    con = duckdb.connect()
    con.register(
        "docs_in",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            f"SELECT doc_id, {exprs['n_emails']}, {exprs['n_phones']}, "
            f"{exprs['n_ipv4']}, {exprs['text_redacted']} FROM docs_in"
        ).fetchall()
    }
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# line cleaning vs the DuckDB list_filter twin
# ---------------------------------------------------------------------------

_LINE = st.one_of(
    st.lists(
        st.sampled_from(["alpha", "bra", "Bad", "bad", "x1", "  "]),
        min_size=0,
        max_size=5,
    ).map(" ".join),
    st.sampled_from(["", "   ", "\t", " bad line here "]),
)

_DOC = st.lists(_LINE, min_size=0, max_size=6).map("\n".join)


@settings(max_examples=10, deadline=None)
@given(st.lists(_DOC, min_size=1, max_size=12))
def test_clean_lines_matches_duckdb_twin(spark, texts):
    """q87's in-row split -> filter -> reassemble vs the DuckDB
    list_filter lambda, fuzzed over whitespace-only lines, banned
    substrings in mixed case, empty docs and fully-dropped docs."""
    from serverless_podcast_etl_spark.functions.cleaning import clean_lines

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["text_clean"], r["n_lines_kept"], r["n_lines_dropped"]
        )
        for r in clean_lines(
            docs,
            "text",
            min_words=2,
            banned_substrings=("bad",),
            min_lines_kept=1,
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "docs_in",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(r"""
SELECT doc_id,
       array_to_string(kept, chr(10)),
       CAST(len(kept) AS INT),
       CAST(len(all_lines) - len(kept) AS INT)
FROM (SELECT doc_id,
             string_split(text, chr(10)) AS all_lines,
             list_filter(string_split(text, chr(10)),
                 x -> trim(x) <> ''
                      AND len(regexp_split_to_array(trim(x), '\s+')) >= 2
                      AND NOT contains(lower(x), 'bad')) AS kept
      FROM docs_in)
WHERE len(kept) >= 1
""").fetchall()
    }
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# sentence tokenizer (Arrow UDF) vs the sentinel-split DuckDB twin
# ---------------------------------------------------------------------------

_SENT_PIECE = st.one_of(
    st.text(alphabet="abXY19", min_size=1, max_size=5),
    st.sampled_from([".", "!", "?", ". ", "!  ", "?\t", ".\n", "  ", "a.b"]),
)

_SENT_DOC = st.lists(_SENT_PIECE, min_size=0, max_size=10).map("".join)


@settings(max_examples=10, deadline=None)
@given(st.lists(_SENT_DOC, min_size=1, max_size=12))
def test_sentence_tokenizer_matches_duckdb_twin(spark, texts):
    """q26's certification rests on lookbehind-split == sentinel-split
    over ASCII input (the documented whitespace assumption) — fuzz the
    equivalence over adversarial punctuation/whitespace runs instead
    of trusting the three injected boundary shapes."""
    from serverless_podcast_etl_spark.functions.text import (
        tokenize_sentences,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["sentence_index"]): r["sentence_text"]
        for r in tokenize_sentences(
            docs, text_col="text", id_cols=["doc_id"]
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(r"""
WITH s AS (
  SELECT doc_id,
         list_filter(
           list_transform(
             str_split(
               regexp_replace(text, '([.!?])\s+', '\1' || chr(1), 'g'),
               chr(1)),
             x -> trim(x, ' ' || chr(9) || chr(10) || chr(13)
                          || chr(11) || chr(12))),
           x -> x <> '') AS sents
  FROM documents
)
SELECT doc_id, CAST(u.i - 1 AS INT) AS sentence_index, u.s AS sentence_text
FROM s, LATERAL (SELECT unnest(sents) AS s,
                        generate_subscripts(sents, 1) AS i) u
""").fetchall()
    }
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# quantile bins (exact type-7 percentile) vs DuckDB quantile_cont
# ---------------------------------------------------------------------------

_SCORE = st.one_of(
    st.none(),
    # quarter-valued doubles: type-7 interpolation at p in {.25,.5,.75}
    # is binary-exact, so a mismatch is a real semantics bug, not ULP
    st.integers(min_value=-40, max_value=40).map(lambda i: i / 4.0),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_SCORE, min_size=1, max_size=30))
def test_quantile_bins_match_duckdb_quantile_cont(spark, scores):
    """q92's portability claim — Spark `percentile` and DuckDB
    `quantile_cont` share type-7 interpolation — fuzzed over
    duplicates, nulls, all-null input and n < #probs."""
    from serverless_podcast_etl_spark.operators.selection import (
        quantile_bins,
    )

    df = spark.createDataFrame(
        list(enumerate(scores)), "id long, score double"
    )
    got = {
        r["id"]: r["bucket"]
        for r in quantile_bins(df, "score").collect()
    }
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame({"id": range(len(scores)), "score": scores})
    )
    want = {
        r[0]: r[1]
        for r in con.execute("""
WITH b AS (SELECT quantile_cont(score, [0.25, 0.5, 0.75]) AS q FROM t)
SELECT id, CAST(CASE WHEN score IS NULL THEN NULL
                WHEN score <= q[1] THEN 0
                WHEN score <= q[2] THEN 1
                WHEN score <= q[3] THEN 2
                ELSE 3 END AS INT) AS bucket
FROM t, b
""").fetchall()
    }
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# event debounce vs the lag-window DuckDB twin
# ---------------------------------------------------------------------------

_DEB_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),       # user
        st.sampled_from(["a", "b"]),                 # type
        st.integers(min_value=0, max_value=40),      # ts in 60s steps
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=10, deadline=None)
@given(_DEB_EVENTS)
def test_debounce_matches_duckdb_twin(spark, events):
    """q91's lag semantics fuzzed over tied timestamps, exact-600s
    gaps (suppressed: the keep rule is STRICTLY greater) and
    interleaved types."""
    from serverless_podcast_etl_spark.operators.windows import (
        suppress_repeated_events,
    )

    rows = [
        (i, u, ty, f"2024-01-01 {t // 60:02d}:{t % 60:02d}:00")
        for i, (u, ty, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    kept = suppress_repeated_events(
        df,
        key_cols=["user_id"],
        dedup_cols=["event_type"],
        ts_col="ts",
        order_cols=[F.col("ts"), F.col("event_id")],
        max_gap_seconds=600,
    )
    got = sorted(r["event_id"] for r in kept.collect())
    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "user_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
                "ts": pd.to_datetime([r[3] for r in rows]),
            }
        ),
    )
    want = sorted(
        r[0]
        for r in con.execute("""
WITH w AS (
  SELECT event_id, user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT event_id FROM w
WHERE prev_ts IS NULL
   OR prev_type IS DISTINCT FROM event_type
   OR date_diff('microsecond', prev_ts, ts) > 600000000
""").fetchall()
    )
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# digest ordering (md5 portability) vs DuckDB
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**9), max_value=10**9),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    st.integers(min_value=1, max_value=10),
)
def test_digest_sample_matches_duckdb_twin(spark, ids, n):
    """q77's reproducible-across-engines claim: Spark md5 over
    utf-8(seed:id) orders identically to DuckDB md5 over the same
    concatenation, including negative ids and n > corpus."""
    from serverless_podcast_etl_spark.operators.selection import (
        digest_sample,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = [
        (r["doc_id"], r["sample_key"])
        for r in digest_sample(df, id_col="doc_id", n=n)
        .orderBy("sample_key")
        .collect()
    ]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"doc_id": ids}))
    want = con.execute(
        "SELECT doc_id, md5('seed0' || ':' || CAST(doc_id AS VARCHAR)) "
        f"AS k FROM t ORDER BY k LIMIT {n}"
    ).fetchall()
    con.close()
    assert got == [tuple(r) for r in want]


# ---------------------------------------------------------------------------
# retention cohorts: fixed-epoch week arithmetic incl. pre-epoch events
# ---------------------------------------------------------------------------

_RET_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),        # user
        st.integers(min_value=-30, max_value=30),     # day offset vs epoch
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=10, deadline=None)
@given(_RET_EVENTS)
def test_retention_cohorts_match_duckdb_twin(spark, events):
    """q94's integer week arithmetic fuzzed across the epoch boundary
    — pre-epoch first events produce NEGATIVE cohort weeks, a region
    the synthetic corpus never exercises; floor-division semantics
    must agree between engines there too."""
    import datetime

    from serverless_podcast_etl_spark.operators.funnels import (
        retention_cohorts,
    )

    epoch = datetime.date(2024, 1, 1)
    rows = [
        (u, (epoch + datetime.timedelta(days=d)).isoformat() + " 12:00:00")
        for u, d in events
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_active_users"]
        for r in retention_cohorts(
            df, "user_id", "ts"
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": pd.to_datetime([r[1] for r in rows]),
            }
        ),
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute("""
WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
j AS (
  SELECT e.user_id,
         CAST(floor(date_diff('day', DATE '2024-01-01',
                              CAST(f.first_ts AS DATE)) / 7) AS INT)
           AS cohort_week,
         CAST(floor(date_diff('day', DATE '2024-01-01',
                              CAST(e.ts AS DATE)) / 7) AS INT)
         - CAST(floor(date_diff('day', DATE '2024-01-01',
                                CAST(f.first_ts AS DATE)) / 7) AS INT)
           AS week_offset
  FROM events e JOIN f ON e.user_id = f.user_id
)
SELECT cohort_week, week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n
FROM j GROUP BY 1, 2
""").fetchall()
    }
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# suffix-wildcard domain blocklist vs the DuckDB twin
# ---------------------------------------------------------------------------

_HOST = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=4
).map(".".join)

_TEXT_PIECE = st.one_of(
    st.sampled_from(["plain", "words", "here"]),
    _HOST.map(lambda h: f"https://{h}/p/1"),
    _HOST.map(lambda h: f"http://{h}"),
)

_BLOCK_ENTRY = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=3
).map(".".join)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(_TEXT_PIECE, min_size=0, max_size=4).map(" ".join),
        min_size=1,
        max_size=12,
    ),
    st.lists(_BLOCK_ENTRY, min_size=1, max_size=4, unique=True),
)
def test_suffix_blocklist_matches_duckdb_twin(spark, texts, blocklist):
    """q89's UT1 suffix semantics fuzzed: an entry blocks itself and
    every subdomain, docs with no URLs always survive, and multi-URL
    docs are blocked when ANY host matches."""
    from serverless_podcast_etl_spark.functions.urls import (
        filter_blocked_domain_suffixes,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    bl = spark.createDataFrame([(d,) for d in blocklist], "domain string")
    got = sorted(
        r["doc_id"]
        for r in filter_blocked_domain_suffixes(
            docs, "text", "doc_id", bl
        ).collect()
    )
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    bl_sql = ", ".join(f"'{d}'" for d in blocklist)
    want = sorted(
        r[0]
        for r in con.execute(rf"""
WITH hosts AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text,
                'https?://([A-Za-z0-9.-]+)(/[^\s]*)?', 1)) AS host
  FROM documents
),
sfx AS (
  SELECT doc_id,
         unnest(list_transform(
             range(1, len(string_split(host, '.')) + 1),
             i -> array_to_string(string_split(host, '.')[i:], '.')))
           AS suffix
  FROM hosts
),
blocked AS (SELECT DISTINCT doc_id FROM sfx WHERE suffix IN ({bl_sql}))
SELECT d.doc_id FROM documents d
ANTI JOIN blocked b ON d.doc_id = b.doc_id
""").fetchall()
    )
    con.close()
    assert got == want

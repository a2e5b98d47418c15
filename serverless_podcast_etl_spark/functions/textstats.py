"""Text analysis for corpus curation: quality scoring, language ID,
token counting, document fingerprinting.

All JVM-side (split / higher-order functions / regexp) — these run over
every document of a 100 TB corpus, so no Python appears in any of them.
Each has an exact ANSI-SQL twin for the DuckDB oracle (plans/catalog).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import hashing
from .text import bpe_ish_tokens, word_tokens

# Small fixed stopword list shared verbatim with the SQL oracle.
STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"]

# Fixed shapes shared by the Spark operators below, their DuckDB twins
# and the catalog oracles
TFIDF_TOP_K = 5
REPETITION_N = 2
FINGERPRINT_K = 5
FINGERPRINT_MOD = 8

# Marker words per language for the n-gram/stopword language heuristic.
# Deterministic and oracle-expressible; a real system would use a
# trained model (fastText) — this is the heuristic tier.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}


def quality_columns(text_col: str) -> dict[str, Column]:
    """The quality-metric expressions keyed by output name — shared by
    ``quality_stats``, ``source_quality_profile`` and catalog q86's
    stopword ratio (stateless in-row expressions)."""
    toks = word_tokens(F.col(text_col))
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_chars = F.length(F.col(text_col))
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_bpe_tokens": F.size(bpe_ish_tokens(F.col(text_col))),
        # try_divide: empty/whitespace-only docs have 0 tokens/chars —
        # ANSI mode (Spark 4 default) would throw on integer x/0; null
        # ratios instead, which the quality gate then rejects
        "avg_token_len": F.round(
            F.try_divide(
                F.length(F.regexp_replace(F.col(text_col), r"\s+", "")), n_tokens
            ),
            4,
        ),
        "stopword_ratio": F.round(F.try_divide(stop_hits, n_tokens), 4),
        "punct_ratio": F.round(F.try_divide(n_punct, n_chars), 4),
    }


def quality_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality metrics: length, token counts, ratios.

    Columns: n_chars, n_tokens (whitespace), n_bpe_tokens (regex),
    avg_token_len, stopword_ratio, punct_ratio — the standard cheap
    quality filters of a pretraining data pipeline.
    """
    from ..operators.scale import ensure_parallelism

    df = ensure_parallelism(df)
    return df.select(
        F.col(id_col),
        *[c.alias(n) for n, c in quality_columns(text_col).items()],
    )


def quality_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_chars: int = 50,
    min_tokens: int = 10,
    max_punct_ratio: float = 0.2,
    max_stopword_ratio: float = 0.6,
) -> DataFrame:
    """The applied form of ``quality_stats``: documents that pass the
    standard cheap pretraining filters, with their stats attached.
    One projection + filter over the stats — the scan stays pruned and
    the thresholds are plan literals (Catalyst folds them).
    """
    stats = quality_stats(df, text_col, id_col)
    return stats.filter(
        (F.col("n_chars") >= min_chars)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("punct_ratio") <= max_punct_ratio)
        & (F.col("stopword_ratio") <= max_stopword_ratio)
    )


def language_scores(text: Column) -> list[Column]:
    """Marker-hit count per language (deterministic heuristic tier)."""
    toks = word_tokens(text)
    return [
        F.size(F.filter(toks, lambda t: t.isin(*markers))).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]


def detect_language(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic language ID: argmax of marker-word hit counts, ties
    broken by language code order (deterministic)."""
    from ..operators.scale import ensure_parallelism

    df = ensure_parallelism(df)
    scored = df.select(F.col(id_col), F.col(text_col), *language_scores(F.col(text_col)))
    langs = sorted(LANG_MARKERS)  # deterministic tie-break: alphabetical
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.coalesce(
        *[
            F.when((F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang))
            for lang in langs
        ],
        F.lit("und"),
    )
    return scored.select(
        F.col(id_col),
        pred.alias("predicted_lang"),
        best.alias("marker_hits"),
    )


def normalize_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Pretraining text cleanup: strip control characters, collapse
    whitespace runs, trim — the first pass of every corpus pipeline.
    Pure regexp_replace (JVM, codegen'd); exact SQL twin in the
    catalog.  Emits before/after char counts so the filter stage can
    drop documents the cleanup gutted.
    """
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), "[\\x00-\\x1F\\x7F]", " "),
            "\\s+",
            " ",
        )
    )
    return df.select(
        F.col(id_col),
        cleaned.alias("text_clean"),
        F.length(F.col(text_col)).alias("n_chars_raw"),
        F.length(cleaned).alias("n_chars_clean"),
    )


# Char-trigram profiles per language (fixed public-knowledge lists of
# high-frequency trigrams) — the n-gram tier of language ID, next to
# the marker-word tier above.  Deterministic and oracle-expressible.
TRIGRAM_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "ing", "ion", "ent", "her", "for", "tha"],
    "es": ["que", "ent", "ado", "los", "cio", "nte", "con", "sta"],
    "fr": ["les", "ent", "des", "ion", "eur", "ait", "ous", "que"],
    "de": ["der", "ein", "ich", "und", "sch", "die", "den", "ung"],
}


def detect_language_ngram(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Char-trigram language ID: argmax of profile-trigram hit counts,
    ties broken by language code order.

    Trigrams are computed once per row behind a Generate barrier (see
    operators/dedup._once) and each language's score is a filtered
    count over the bound array — in-row, shuffle-free.  ``keep_cols``
    are carried through (e.g. a ground-truth label for the q64
    accuracy evaluation) so no join is needed downstream.
    """
    from ..operators.scale import ensure_parallelism

    # bind lower(text) behind a barrier FIRST: substring(expr, i, 3)
    # inside the transform lambda would re-evaluate the lower() over
    # the whole document once per trigram (O(len²) char copies)
    lowered = ensure_parallelism(df).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.explode(F.array(F.lower(F.col(text_col)))).alias("_lt"),
    )
    n = F.length(F.col("_lt"))
    trigrams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.substring(F.col("_lt"), i, 3),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bound = lowered.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.explode(F.array(trigrams)).alias("_tg"),
    )
    langs = sorted(TRIGRAM_PROFILES)
    scored = bound.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *[
            F.size(
                F.filter(F.col("_tg"), lambda t: t.isin(*TRIGRAM_PROFILES[lang]))
            ).alias(f"score_{lang}")
            for lang in langs
        ],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.coalesce(
        *[
            F.when((F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang))
            for lang in langs
        ],
        F.lit("und"),
    )
    return scored.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        pred.alias("predicted_lang"),
        best.alias("trigram_hits"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Top-``TFIDF_TOP_K`` characteristic terms per document by TF-IDF,
    ``STOPWORDS`` removed.

    idf is the LOG-FREE rational form ``(N + 1) / (df + 1)`` — same
    ranking monotonicity in 1/df, but built only from IEEE add/div/mul,
    so Spark and any SQL oracle produce bit-identical doubles (``ln``
    implementations differ in the last ulp across runtimes, which would
    flake a value-hash comparison; documented trade).

    Plan shape: explode → two hash aggregates (tf per (doc, term); df
    per term) → broadcast the (small) per-term df table back — the
    corpus-sized side is shuffled once, on (doc, term).
    """
    from pyspark.sql import Window

    terms = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
        )
        .filter((F.col("term") != "") & ~F.col("term").isin(STOPWORDS))
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = (
        terms.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = df.select(id_col).distinct().count()
    scored = tf.join(F.broadcast(doc_freq), "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf") * (F.lit(float(n_docs + 1)) / (F.col("df") + 1)), 4
        ),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


def tfidf_top_terms_sql() -> str:
    """DuckDB twin of ``tfidf_top_terms`` (same tokenization, same
    stopwords, same rational idf, same tie-break)."""
    sw_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH terms AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
  FROM documents
),
ft AS (SELECT doc_id, term FROM terms
       WHERE term <> '' AND term NOT IN ({sw_list})),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ft GROUP BY 1, 2),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM ft GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         round(tf * ((n_docs + 1.0) / (df + 1)), 4) AS tfidf
  FROM tf JOIN dfreq USING (term), n
)
SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        ORDER BY tfidf DESC, term) AS rank FROM scored)
WHERE rank <= {TFIDF_TOP_K}
"""


def repetition_stats(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Repetition-based quality metrics: fraction of word n-grams that
    are the single most frequent one (``top_gram_frac``) and fraction
    belonging to any repeated n-gram (``dup_gram_frac``) — the
    Gopher/MassiveText-style repetition filters for pretraining data
    (boilerplate and degenerate loops score high on both).

    Plan: tokens bound once per row behind a Generate barrier, n-grams
    in-row (``transform`` over shifted ``slice``), then exactly one
    corpus shuffle on ``(doc, gram)`` and a map-side-combinable second
    aggregate on ``doc``.  Fractions are long/long IEEE divisions —
    bit-identical to the SQL oracle.  Documents with fewer than ``REPETITION_N``
    tokens yield no n-grams and are absent (parity with the oracle).
    """
    from ..operators.scale import ensure_parallelism

    bound = ensure_parallelism(df).select(
        F.col(id_col),
        # Generate barrier: split/lower/filter run once per row, not
        # once per n-gram access inside the transform lambda
        F.explode(F.array(word_tokens(F.col(text_col)))).alias("_t"),
    )
    size = F.size("_t")
    grams = F.when(
        size >= REPETITION_N,
        F.transform(
            F.sequence(F.lit(1), size - REPETITION_N + 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, REPETITION_N)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_gram = (
        bound.select(F.col(id_col), F.explode(grams).alias("_g"))
        .groupBy(id_col, "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return per_gram.groupBy(id_col).agg(
        F.sum("_c").alias("n_grams"),
        F.max("_c").alias("top_gram_count"),
        F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(F.lit(0))).alias(
            "dup_gram_count"
        ),
    ).select(
        F.col(id_col),
        "n_grams",
        "top_gram_count",
        "dup_gram_count",
        F.try_divide(F.col("top_gram_count"), F.col("n_grams")).alias(
            "top_gram_frac"
        ),
        F.try_divide(F.col("dup_gram_count"), F.col("n_grams")).alias(
            "dup_gram_frac"
        ),
    )


def repetition_stats_sql() -> str:
    """DuckDB twin of ``repetition_stats`` (same tokenization, same
    n-gram construction, sums cast back to BIGINT before the IEEE
    division — DuckDB ``sum(BIGINT)`` is HUGEINT)."""
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t) - {REPETITION_N} + 2),
         i -> array_to_string(list_slice(t, i, i + {REPETITION_N} - 1), ' '))) AS g
  FROM toks
),
cnt AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams,
       CAST(max(c) AS BIGINT) AS top_gram_count,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_gram_count,
       CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS top_gram_frac,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
         / CAST(sum(c) AS BIGINT) AS dup_gram_frac
FROM cnt GROUP BY doc_id
"""


def winnowed_fingerprint_set(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 8,
) -> DataFrame:
    """Exploded TRUE-winnowing fingerprint set (Schleimer, Wilkerson &
    Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03): the minimum k-gram hash of every ``window`` consecutive
    k-grams, deduplicated per document.

    GUARANTEE (what mod-sampling lacks): any token span shared by two
    documents containing at least ``window`` k-grams — i.e. length ≥
    ``window + k − 1`` tokens — contributes at least one IDENTICAL
    fingerprint to both, because both pick the same minimum inside the
    shared window.  Expected density is 2/(window+1), comparable to
    mod-sampling at keep_mod ≈ (window+1)/2.

    Documents with fewer than ``window`` k-grams keep their single
    minimum (short docs must not vanish from a decontamination gate);
    docs with no k-grams produce no row.  Entirely in-row over the
    materialized gram array (sliding ``array_min`` slices — O(len ·
    window) with no re-hashing), zero shuffles at any corpus size.
    """
    from ..operators.dedup import _bound_token_hashes

    bound = _bound_token_hashes(df, text_col, id_col)
    grams = hashing.shingle_hash_array(F.col("_th"), k)
    # Generate barrier: materialize the gram array once per row; the
    # sliding mins below slice a bound attribute, not the hash tree.
    mat = bound.select(
        F.col(id_col), F.explode(F.array(grams)).alias("_g")
    ).filter(F.size("_g") > 0)
    m = F.size(F.col("_g"))
    fps = F.when(
        m >= window,
        F.transform(
            F.sequence(F.lit(1), m - window + 1),
            lambda j: F.array_min(F.slice(F.col("_g"), j, window)),
        ),
    ).otherwise(F.array(F.array_min(F.col("_g"))))
    return mat.select(
        F.col(id_col), F.explode(F.array_distinct(fps)).alias("fingerprint")
    )


def rolling_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Document fingerprinting: hash every ``FINGERPRINT_K``-token
    shingle, keep the 0-mod-``FINGERPRINT_MOD`` subset (mod-sampling —
    NOT winnowing: a shared span with m k-grams is missed with
    probability ≈ (1 − 1/FINGERPRINT_MOD)^m; ``winnowed_fingerprint_set`` is the
    guaranteed variant).

    The kept hash set is a compact, alignment-free signature for
    overlap detection.  Portable hash ⇒ oracle-checkable.
    Computed inside the row (higher-order array ops) — zero shuffles;
    documents with no kept fingerprints produce no row (parity with
    the exploded formulation and the SQL oracle).
    """
    from ..operators.dedup import _bound_token_hashes

    bound = _bound_token_hashes(df, text_col, id_col)
    grams = hashing.shingle_hash_array(F.col("_th"), FINGERPRINT_K)
    kept = F.array_distinct(F.filter(grams, lambda h: h % FINGERPRINT_MOD == 0))
    # Generate barrier: compute the hash/filter/distinct chain once per
    # row (explode of a 1-element array), not once per consumer.
    materialized = bound.select(F.col(id_col), F.explode(F.array(kept)).alias("_kept"))
    return materialized.filter(F.size("_kept") > 0).select(
        F.col(id_col),
        F.size("_kept").cast("long").alias("n_fingerprints"),
        F.array_min("_kept").alias("min_fingerprint"),
    )


def unigram_frequency_scores(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Corpus-trained unigram language-model scoring per document — the
    KenLM-style quality signal of a pretraining pipeline (documents of
    very rare tokens are boilerplate/garbled outliers; CCNet buckets on
    exactly this).  The "model" is the corpus itself: token counts
    ``c`` with add-one smoothing over ``N`` total tokens and ``V``
    distinct tokens.

    Emits per document:

    - ``n_tokens``
    - ``mean_inv_freq`` = avg((N + V) / (c + 1)) — the LOG-FREE
      rarity score (1 / smoothed unigram probability, averaged).  Built
      only from IEEE add/div, so Spark and the DuckDB oracle produce
      bit-identical per-token doubles (same trade as
      ``tfidf_top_terms``: ``ln`` differs in the last ulp across
      runtimes and would flake a value-hash comparison).
    - ``avg_logprob`` = avg(ln((c + 1) / (N + V))) — the conventional
      LM score for human consumption; NOT oracle-compared (the
      catalog's certified query selects the rational columns and
      Catalyst prunes this one out of that plan).

    Plan shape (the ``tfidf_top_terms`` shape): explode → hash
    aggregate tf per (doc, token) — map-side combinable, shrinks the
    corpus to per-doc vocab — → global counts per token (small) →
    broadcast counts back onto tf.  The corpus-sized side is shuffled
    once.  At a scale where the vocab outgrows the broadcast
    threshold, drop the hint and let AQE pick a shuffle join.

    The tf table feeds three consumers (the score join, the count
    model, the totals) and Catalyst does NOT reuse the exchange
    across them (measured: 3× scan+tokenize+shuffle), so it is
    materialized ONCE via ``localCheckpoint`` — the same
    single-materialization pattern as ``selection.global_prefix_sum``.
    """
    terms = df.select(
        F.col(id_col),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    tf = (
        terms.groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    counts = tf.groupBy("token").agg(F.sum("tf").alias("c"))
    totals = counts.agg(
        F.sum("c").cast("double").alias("_n"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    scored = tf.join(F.broadcast(counts), "token").join(F.broadcast(totals))
    inv = (F.col("_n") + F.col("_v")) / (F.col("c") + F.lit(1.0))
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * inv) / F.sum("tf"), 4
            ).alias("mean_inv_freq"),
            F.round(
                F.sum(F.col("tf") * -F.log(inv)) / F.sum("tf"), 4
            ).alias("avg_logprob"),
        )
    )


def unigram_frequency_sql() -> str:
    """DuckDB twin of ``unigram_frequency_scores``'s rational columns
    (same tokenization, same add-one smoothing, same weighted mean)."""
    return """
WITH terms AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''))
         AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
counts AS (SELECT token, sum(tf) AS c FROM tf GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
        FROM counts)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       round(sum(tf * ((n + v) / (c + 1.0))) / sum(tf), 4)
         AS mean_inv_freq
FROM tf JOIN counts USING (token), tot
GROUP BY doc_id
"""


def build_vocabulary(
    df: DataFrame, text_col: str, vocab_size: int
) -> list[str]:
    """Top-``vocab_size`` corpus tokens by (count DESC, token ASC) —
    the deterministic tie-break makes the vocabulary, and everything
    scored against it, reproducible across engines and partitionings.
    Plans as explode → map-side-combinable hash aggregate →
    TakeOrdered (per-partition top-V, one V-row merge; the corpus is
    shuffled once on token and never globally sorted).  The collect is
    bounded at ``vocab_size`` rows."""
    return [
        r["token"]
        for r in (
            df.select(
                F.explode(word_tokens(F.col(text_col))).alias("token")
            )
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), "token")
            .limit(vocab_size)
            .collect()
        )
    ]


def vocab_coverage_curve(
    df: DataFrame, text_col: str, top_n: int = 100
) -> DataFrame:
    """(rank, token, token_count, cum_fraction) for the corpus's
    ``top_n`` most frequent tokens — the token-coverage curve a
    tokenizer/vocabulary designer reads to size V ("how many types
    cover 95% of the token mass?").  Deterministic order: (count DESC,
    token ASC), the ``build_vocabulary`` tie-break.

    Shape: one corpus explode → hash-aggregate token counts →
    TakeOrdered ``top_n`` (per-partition top + one merge; no global
    sort) → running sum over the BOUNDED top_n rows (single-partition
    window, but over ≤ top_n rows by construction — the ≤1024-row
    exemption every bounded table in the repo uses).  The unigram
    table is localCheckpoint'ed at its fan-out (the total-mass
    aggregate and the top-n both consume it — ADVICE 18), so the
    corpus is exploded exactly once.
    """
    from pyspark.sql import Window

    uni = (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
        .localCheckpoint(eager=True)
    )
    total = uni.agg(F.sum("token_count").alias("n")).collect()[0]["n"] or 0
    top = uni.orderBy(F.desc("token_count"), "token").limit(top_n)
    w = (
        Window.orderBy(F.desc("token_count"), "token")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("token_count"), "token"))
        .cast("long")
        .alias("rank"),
        "token",
        F.col("token_count").cast("long").alias("token_count"),
        F.round(
            F.sum("token_count").over(w).cast("double")
            / F.lit(float(total)),
            6,
        ).alias("cum_fraction"),
    )


def tokenizer_fertility_stats(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """(group, n_docs, n_tokens, n_chars, n_bytes, chars_per_token,
    bytes_per_token) per group (typically language) — the tokenizer
    fertility read of a multilingual corpus: how many characters/bytes
    one whitespace token costs per language decides vocabulary and
    sampling budgets before any model sees the data.

    All sums are exact BIGINT (chars via ``length``, bytes via
    ``octet_length`` — the DuckDB twin uses ``length``/``strlen``,
    fact 10); the two ratios are single ``try_divide``s of those sums
    (an all-token-less group reads NULL, matching the oracle's
    ``nullif``), so the oracle hashes exactly.  One in-row scan, one tiny
    groupBy(group) shuffle.
    """
    toks = word_tokens(F.col(text_col))
    per_doc = df.select(
        F.col(group_col).alias("grp"),
        F.size(toks).cast("long").alias("_nt"),
        F.length(F.col(text_col)).cast("long").alias("_nc"),
        F.octet_length(F.col(text_col)).cast("long").alias("_nb"),
    )
    return (
        per_doc.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
            F.sum("_nc").cast("long").alias("n_chars"),
            F.sum("_nb").cast("long").alias("n_bytes"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_bytes",
            F.round(
                F.try_divide(
                    F.col("n_chars").cast("double"),
                    F.col("n_tokens").cast("double"),
                ),
                6,
            ).alias("chars_per_token"),
            F.round(
                F.try_divide(
                    F.col("n_bytes").cast("double"),
                    F.col("n_tokens").cast("double"),
                ),
                6,
            ).alias("bytes_per_token"),
        )
    )


#: C0 controls except \t \n \r, DEL, and the C1 block — the bytes a
#: broken decoder leaks into text.  Hex escapes only (no raw control
#: chars in the pattern source): Java regex and RE2 both read \xhh as
#: the U+00hh code point, so the same ASCII pattern text works in
#: Spark and in the DuckDB oracle.
CONTROL_CHAR_PATTERN = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]"
#: the UTF-8-read-as-latin1 signature: a multi-byte lead byte C2/C3
#: decoded as 'Â'/'Ã' followed by a continuation byte decoded into
#: U+0080–U+00BF ('Ã©' where 'é' belongs, 'Â·' where '·' belongs).
MOJIBAKE_PATTERN = r"[\xC2\xC3][\x80-\xBF]"


def encoding_anomaly_columns(text: Column) -> dict[str, Column]:
    """The in-row encoding-anomaly count expressions keyed by output
    name, for ``encoding_anomaly_scores``."""
    return {
        "n_chars": F.length(text).cast("long"),
        "replacement_chars": F.regexp_count(
            text, F.lit("�")
        ).cast("long"),
        "control_chars": F.regexp_count(
            text, F.lit(CONTROL_CHAR_PATTERN)
        ).cast("long"),
        "mojibake_pairs": F.regexp_count(
            text, F.lit(MOJIBAKE_PATTERN)
        ).cast("long"),
    }


def encoding_anomaly_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, n_chars, replacement_chars, control_chars, mojibake_pairs,
    anomaly_rate, is_suspect) per document — the crawl-hygiene gate
    run BEFORE tokenization/dedup: U+FFFD replacement characters
    (a decoder already gave up), raw C0/C1 control characters (binary
    junk or charset mislabeling), and UTF-8-as-latin1 mojibake
    digraphs ('Ã©', 'â€™') each poison downstream shingles and
    n-gram language-ID, and none of the existing quality signals
    (q16/q38/q43 — length, punctuation, stopwords) sees them.

    ``anomaly_rate`` = (replacement + control + mojibake) / chars,
    NULL for empty text (``try_divide`` — no evidence);
    ``is_suspect`` flags ANY replacement char (unconditional: U+FFFD
    is never legitimate content) or a rounded rate above 0.001.
    Counts are exact integers from three ``regexp_count`` scans; the rate is the single IEEE division,
    rounded before the threshold compare so the oracle decides
    identically.  Everything is in-row — no shuffle, no state,
    trivially partition-parallel at any corpus size.
    """
    cols = encoding_anomaly_columns(F.col(text_col))
    scored = df.select(F.col(id_col), *(c.alias(n) for n, c in cols.items()))
    rate = F.round(
        F.try_divide(
            (
                F.col("replacement_chars")
                + F.col("control_chars")
                + F.col("mojibake_pairs")
            ).cast("double"),
            F.col("n_chars").cast("double"),
        ),
        6,
    )
    return scored.withColumn("anomaly_rate", rate).withColumn(
        "is_suspect",
        (
            (F.col("replacement_chars") > 0)
            | (F.col("anomaly_rate") > F.lit(0.001))
        )
        .cast("long"),
    )


def source_quality_profile(
    df: DataFrame,
    text_col: str,
    source_col: str,
) -> DataFrame:
    """(source, n_docs, median_stopword_ratio, mad_stopword_ratio,
    n_outliers) per source — the per-domain quality-drift detector: a crawl source
    whose quality distribution shifts (template change, parser
    breakage, spam influx) moves its median or grows its outlier count
    long before corpus-wide aggregates notice.

    Robust per-group statistics, same reasoning as
    ``embedding_norm_outliers``: grouped median and MAD are
    order-independent (exact sorted-rank interpolation in both
    engines), so the DuckDB twin hashes exactly, and they tolerate the
    outliers being counted; an outlier deviates from its source median
    by more than 3 MADs.  Documents whose stopword ratio is NULL
    (token-less under ``try_divide``) carry no evidence and are
    excluded.

    Shape: ONE corpus scan computes (source, ratio) in-row and is
    localCheckpoint'ed at its fan-out (three consumers: per-source
    median, deviation join, per-source MAD — ADVICE 18); everything
    after is arithmetic over per-source tables (≤ #sources rows,
    broadcast into the doc-level joins).

    Both grouped medians use the exact ``F.percentile`` (the certified
    oracle form), which buffers EVERY group member in the aggregation
    buffer — for a crawl source with billions of documents that is an
    executor-memory cliff, not a slow plan (the q92 ``quantile_bins``
    hazard class).
    """
    vals = df.select(
        F.col(source_col).alias("source"),
        quality_columns(text_col)["stopword_ratio"].alias("_v"),
    ).filter(F.col("_v").isNotNull()).localCheckpoint(eager=True)
    med = vals.groupBy("source").agg(
        F.percentile(F.col("_v"), F.lit(0.5)).alias("_med"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    devs = vals.join(F.broadcast(med), "source").select(
        "source",
        "n_docs",
        "_med",
        F.round(F.abs(F.col("_v") - F.col("_med")), 6).alias("_dev"),
    )
    mad = devs.groupBy("source").agg(
        F.percentile(F.col("_dev"), F.lit(0.5)).alias("_mad")
    )
    return (
        devs.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.first("n_docs").cast("long").alias("n_docs"),
            F.round(F.first("_med"), 6).alias("median_stopword_ratio"),
            F.round(F.first("_mad"), 6).alias("mad_stopword_ratio"),
            F.sum(
                F.when(F.col("_dev") > F.lit(3.0) * F.col("_mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


def oov_columns(
    tokens: Column, vocabulary: list[str]
) -> dict[str, Column]:
    """The in-row OOV expressions keyed by output name, over an
    already-tokenized array column — ``vocab_oov_scores``' plan-literal
    path (the vocabulary ships as an InSet inside the plan).  Empty
    token arrays yield NULL ``oov_rate`` (``try_divide`` — no ANSI
    DIVIDE_BY_ZERO), which any ``<=`` threshold filter drops: a
    token-less document carries no vocabulary evidence, matching the
    scorer's ``size > 0`` domain."""
    oov = F.size(F.filter(tokens, lambda t: ~t.isin(*vocabulary)))
    return {
        "oov_tokens": oov.cast("long"),
        "oov_rate": F.round(
            F.try_divide(oov.cast("double"), F.size(tokens)), 6
        ),
    }


def vocab_oov_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab_size: int = 64,
    literal_max: int = 1024,
) -> DataFrame:
    """Vocabulary-coverage scoring per document — the out-of-vocabulary
    rate against a corpus-derived top-``vocab_size`` vocabulary.  The
    standard "does this document speak the corpus's language" filter
    (CCNet/fastText-style pipelines gate on exactly this signal before
    the heavier LM score): boilerplate, garbled encodings and
    wrong-language docs are OOV-heavy.  Complements
    ``unigram_frequency_scores`` (q80): that one averages smoothed
    token probabilities, this one measures the hard vocabulary-miss
    fraction.

    Emits (id, n_tokens, oov_tokens, oov_rate) per document with at
    least one token (token-less docs carry no evidence — the
    ``minhash_signatures`` domain contract); ``oov_rate`` rounded to
    6 dp, one IEEE division per doc, so the DuckDB twin
    (``vocab_oov_sql``) hashes exactly.

    Two scoring paths, chosen by vocabulary size, identical results:

    - ``vocab_size <= literal_max``: the fitted vocabulary ships as an
      IN-list inside the plan (Catalyst converts In over >10 literals
      to InSet — an O(1) hash-set probe per token), and scoring is ONE
      purely in-row corpus scan: zero joins, zero shuffles, the q100
      plan-literal pattern.
    - larger vocabularies: explode → per-doc tf hash aggregate (one
      corpus shuffle, map-side combinable) → broadcast left join
      against the vocabulary → per-doc re-aggregate.  The corpus is
      shuffled once; the vocabulary is broadcast, never shuffled.
    """
    vocab = build_vocabulary(df, text_col, vocab_size)
    toks = word_tokens(F.col(text_col))
    if vocab_size <= literal_max:
        cols = oov_columns(F.col("_t"), vocab)
        return (
            df.select(F.col(id_col), toks.alias("_t"))
            .filter(F.size("_t") > 0)
            .select(
                id_col,
                F.size("_t").cast("long").alias("n_tokens"),
                *[c.alias(n) for n, c in cols.items()],
            )
        )
    from ..operators.scale import local_frame

    vocab_df = F.broadcast(
        local_frame(
            df.sparkSession, [(t,) for t in vocab], "token string"
        ).withColumn("_in_vocab", F.lit(1))
    )
    tf = (
        df.select(
            F.col(id_col),
            F.explode(toks).alias("token"),
        )
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.join(vocab_df, "token", "left")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), F.col("tf")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("oov_tokens"),
        )
        .withColumn(
            "oov_rate",
            F.round(
                F.col("oov_tokens").cast("double") / F.col("n_tokens"), 6
            ),
        )
    )


def vocab_oov_sql(vocab_size: int = 64) -> str:
    """DuckDB twin of ``vocab_oov_scores`` (same tokenization via the
    shared whitespace split, same (count DESC, token ASC) vocabulary
    tie-break, same single-division rate)."""
    return f"""
WITH terms AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''))
         AS token
  FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS c FROM terms GROUP BY token
  ) ORDER BY c DESC, token LIMIT {vocab_size}
),
d AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         count(CASE WHEN v.token IS NULL THEN 1 END) AS oov
  FROM terms t LEFT JOIN vocab v USING (token)
  GROUP BY t.doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(oov AS BIGINT) AS oov_tokens,
       round(CAST(oov AS DOUBLE) / n_tokens, 6) AS oov_rate
FROM d
ORDER BY doc_id
"""

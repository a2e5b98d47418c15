"""Deduplication operators for large-scale corpus curation.

The training-data-pipeline surface (BASELINE.json north star): exact
dedup, shingle/Jaccard near-dup, MinHash+LSH, SimHash, and
embedding-cosine near-dup.  Every candidate generator is pure
DataFrame — the candidates always come from a self-equi-join on a
derived key (shingle / band bucket / simhash band), never an O(n²)
cross join, so each scales as (corpus size × duplicate density), not
corpus².

Portable hashing (functions/hashing.py) keeps MinHash/SimHash
signatures bit-identical between Spark and the DuckDB oracle.

Pairs become dedup decisions in ``connected_components``, the one
operator here that is not distributed: it collects the pair list to
the driver and labels it by union-find in one Spark job.  Driver
memory is therefore O(verified pairs), not O(corpus) — 83,107 pairs
at sf0.1 for the largest caller (q97/q98), and at most 44,850 for the
``curation`` workload's 300 documents.

The pair operators (and ``neardup_ensemble``) eagerly
``localCheckpoint`` the expensive hashing scan at its fan-out (ADVICE
r12).  That (a) runs a Spark job at DataFrame-CONSTRUCTION time, (b)
truncates lineage — localCheckpoint blocks live on executor local
storage, NOT a reliable store, so on a cluster with executor
loss/preemption the blocks are unrecoverable and the job fails rather
than recomputing (same trade ``warehouse.py`` makes), and (c) stops
Catalyst pushing downstream filters/column pruning past the
checkpoint into the source scan — irrelevant for these operators' own
plans (every consumer below the fan-out reads ALL checkpointed
columns, and the outputs are computed pair/score columns no
source-level pushdown could reach), but a caller composing extra
source-column predicates UNDER one of these operators should apply
them to ``df`` first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing
from .scale import ensure_parallelism

# MinHash-LSH shape: word 3-gram shingles, 8 hash functions, 4 bands of
# 2 rows.  The catalog's DuckDB twins read the same names.
MINHASH_N = 3
MINHASH_NUM_HASHES = 8
MINHASH_BANDS = 4
SIMHASH_BITS = 32
# decontamination n-gram width (cross_corpus_overlap and its Bloom form)
OVERLAP_N = 8


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns one row per distinct content hash (over the trimmed,
    lower-cased text) with the representative (minimum) id and the
    duplicate count.  Hash-groupBy: map-side partial aggregation, one
    shuffle on the 128-bit digest.
    """
    content = F.lower(F.trim(F.col(text_col)))
    return (
        df.select(F.md5(content).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("n_duplicates"),
        )
    )


def exact_dedup_keep_first(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The applied form of ``exact_dedup``: the corpus with exact
    duplicates removed, keeping the minimum-id representative of each
    content group.  Same single shuffle (window over the content
    hash) — no join back to the group table needed.
    """
    from pyspark.sql import Window

    content = F.lower(F.trim(F.col(text_col)))
    w = Window.partitionBy(F.md5(content)).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shared_token_hash48(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int | None = None
) -> DataFrame:
    """``(id, _th48 array<long>)`` — ONE tokenize→md5 scan, eagerly
    materialized, for sharing across DETECTORS (opt-r15, guide §2.1:
    don't recompute the fan-out source).

    Both token-hash families used by the near-dup detectors are
    prefixes of the same md5 hex digest: MinHash's 32-bit token hash
    is ``portable_hash48 % 2^32`` (the LOW 32 bits of the 48-bit
    value) and SimHash's is the value of the first 8 hex digits —
    exactly ``portable_hash48 >> 16``.  Materializing the 48-bit
    hashes once therefore lets an ensemble run the md5 pass — the
    dominant per-row CPU at corpus scale — exactly once, with each
    detector deriving its own view by cheap integer arithmetic
    (bit-identical to what it computed standalone; pinned by the
    shared-scan parity tests).  Pass the result as ``hashes48=`` to
    ``minhash_lsh_pairs`` and ``simhash_neardup_pairs`` together with
    the same ``df``: the result records the frame it scanned, and a
    consumer handed any other corpus raises ``ValueError``.

    ``shingle_n`` additionally folds and stores the word-``n``-gram
    shingle hashes in the SAME materialization (column
    ``_h32s{n}``): a MinHash consumer then reads its shingle arrays
    straight from this checkpoint instead of paying a second
    corpus-linear materialization pass (read the hash blocks, fold,
    write shingle blocks) — one write of both arrays replaces
    write+read+write.  The column name carries ``n``, so a consumer
    asking for a different shingle width falls back to folding from
    ``_th48`` rather than silently reading the wrong space.

    The eager ``localCheckpoint`` makes this batch-only (the
    checkpoint trade in this module's docstring applies)."""
    from ..functions.text import word_tokens_spark_sql

    h48 = F.expr(
        hashing.token_hashes48_spark_sql(word_tokens_spark_sql(text_col))
    )
    bound = _once(ensure_parallelism(df), id_col, h48, "_th48")
    if shingle_n is not None:
        # bind the 32-bit view behind a second Generate (explode keeps
        # the other columns) so the fold's slices read a bound array
        # instead of re-evaluating the mod-transform per reference
        # (fact 31)
        b2 = bound.select(
            F.col(id_col),
            F.col("_th48"),
            F.explode(
                F.array(F.expr(f"transform(_th48, h -> h % {hashing.U32})"))
            ).alias("_th"),
        )
        bound = b2.select(
            F.col(id_col),
            F.col("_th48"),
            F.expr(
                hashing.shingle_hash_array_spark_sql("_th", shingle_n)
            ).alias(f"_h32s{shingle_n}"),
        )
    out = bound.localCheckpoint(eager=True)
    out._scanned_from = df
    return out


def _check_shared_scan(df: DataFrame, hashes48: DataFrame) -> None:
    """Raise unless ``hashes48`` is a ``shared_token_hash48`` scan of
    ``df`` (the same frame, or one with the same semantics).  The
    consumers read their token hashes from ``hashes48`` alone, so a
    mismatched corpus would otherwise yield pairs over the wrong
    documents without any error.  ``sameSemantics`` compares plans on
    the driver; it launches no Spark job."""
    scanned = getattr(hashes48, "_scanned_from", None)
    if scanned is None or not (scanned is df or df.sameSemantics(scanned)):
        raise ValueError(
            "hashes48 is not a shared_token_hash48 scan of df: pass the "
            "frame the shared scan was built from"
        )


def _bound_token_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    hashes48: DataFrame | None = None,
) -> DataFrame:
    """(id, _th array<long>) with the md5 token hashes materialized
    behind a Generate barrier (see ``_once``) so every downstream
    consumer reads a bound attribute — the md5 pass runs exactly once
    per row.  Also fans a single-row-group scan out across cores.

    ``hashes48`` (a ``shared_token_hash48`` frame) replaces the md5
    scan with a mod-2^32 derivation over the already-materialized
    48-bit hashes — same values bit-for-bit (the 32-bit token hash IS
    the low half of the 48-bit one), no md5 recomputation."""
    from ..functions.text import word_tokens_spark_sql

    if hashes48 is not None:
        _check_shared_scan(df, hashes48)
        return _once(
            hashes48,
            id_col,
            F.expr(f"transform(_th48, h -> h % {hashing.U32})"),
            "_th",
        )
    return _once(
        ensure_parallelism(df),
        id_col,
        F.expr(
            hashing.token_hashes_spark_sql(word_tokens_spark_sql(text_col))
        ),
        "_th",
    )


def shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    hashes48: DataFrame | None = None,
) -> DataFrame:
    """Distinct word n-gram shingle HASHES per document (array<long>
    token hashes folded pairwise — shingle strings never materialize;
    see functions/hashing.py).  All JVM-side; one explode feeding the
    downstream join, no string allocation per shingle.

    Per-doc dedup is the in-row ``array_distinct`` — equivalent to
    the relational ``.distinct()`` it replaces (a shingle can only
    repeat WITHIN a doc; ids differ across docs) with zero exchange,
    where the old form shuffled the whole exploded corpus (measured
    ~0.9 s of the q110 shape at sf0.1).

    PRECONDITION (ADVICE r12): ``id_col`` must uniquely key the input
    rows.  The old relational ``.distinct()`` silently collapsed
    duplicate-id rows; the in-row form emits duplicate
    ``(id, shingle)`` rows for them, inflating ``n_shingles`` and
    shared-shingle counts downstream (intersections can then exceed
    set sizes, skewing Jaccard/containment scores).  Every consumer
    in this module — ``ngram_jaccard_pairs``, ``containment_pairs``,
    ``incremental_neardup_admission``/``incremental_refresh`` and the
    MinHash family via ``_bound_token_hashes`` — inherits this
    contract; run ``exact_dedup``/``dedup_keep_first`` on the id
    first if your corpus can carry duplicate ids.

    ``hashes48`` (a ``shared_token_hash48`` frame) shares the
    tokenize→md5 scan with other detectors — see
    ``shared_token_hash48``.
    """
    hashed = _bound_token_hashes(df, text_col, id_col, hashes48=hashes48)
    grams = F.expr(hashing.shingle_hash_array_spark_sql("_th", n))
    return hashed.select(
        F.col(id_col),
        F.explode(F.array_distinct(grams)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
    hashes48: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    Candidate generation is a self-join on the shingle value (only
    documents sharing ≥1 shingle ever meet — the scalable alternative
    to a cross join), then Jaccard = |A∩B| / (|A|+|B|−|A∩B|) from
    per-doc shingle counts.

    ``max_doc_freq`` removes STOP-SHINGLES — n-grams appearing in more
    than that many documents — from the similarity space before the
    join (exactly what stopword removal does for terms).  A shingle in
    d documents contributes d·(d−1)/2 joined rows, so boilerplate
    n-grams dominate the join quadratically while carrying no
    near-dup signal; the cap bounds the join at Σ min(df,cap)² —
    corpus-linear.  Jaccard is then computed over the capped space on
    BOTH numerator and denominators (self-consistent and
    oracle-expressible).

    The shingle table is ``localCheckpoint``ed at its fan-out (NOTES
    fact 18 — the doc-freq cap, the size agg and the self-join's
    exchange-shared side each re-ran the tokenize→md5 scan): every
    consumer reads one executed scan.  Batch-only.

    ``hashes48`` (a ``shared_token_hash48`` frame) shares the
    tokenize→md5 scan with other detectors over the same corpus
    (bit-identical shingles — the capped similarity space is derived
    downstream and unaffected).
    """
    sh = shingles(
        df, text_col, id_col, n=n, hashes48=hashes48
    ).localCheckpoint(eager=True)
    if max_doc_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("sz_b"))
    return (
        shared.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_shared", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT — the
    doc-inside-doc detector Jaccard structurally misses.

    containment(A,B) = |A∩B| / min-side size, emitted per direction
    (``containment_a`` = |A∩B|/|A|, ``containment_b`` = |A∩B|/|B|)
    and filtered on the max of the two: a short quote or article fully
    embedded in a long page scores ~1.0 here while its Jaccard is
    ≈ |A|/|B| ≈ 0 — which is also why candidates come from the
    ``ngram_jaccard_pairs`` shingle self-join (perfect recall for any
    pair sharing a shingle) and NOT from MinHash banding, whose
    collision probability tracks JACCARD and would drop exactly the
    asymmetric pairs this operator exists to find.

    ``max_doc_freq`` (default ON, unlike the Jaccard form: containment
    candidates skew toward boilerplate by construction) caps the
    per-shingle join fan-out at Σ min(df,cap)² — corpus-linear; both
    numerator and denominators are computed over the capped space
    (self-consistent, oracle-expressible).

    Sizing the cap for boilerplate-heavy corpora: the candidate join
    is bounded by cap² × (number of distinct shingles at the cap), so
    on a corpus where many shingles saturate the cap (template pages,
    navigation blocks) the REAL bound is cap² × distinct-shingle
    count, not Σ df².  Pick ``max_doc_freq`` ≈ the largest true
    duplicate-cluster size you need to detect (a doc contained in d
    copies needs its shingles to survive at df ≤ d) and no larger —
    halving the cap quarters the worst-case join.  Shingles above the
    cap carry no containment signal by the stop-shingle argument, so
    raising it past the cluster-size bound only buys boilerplate
    pairs.

    The shingle table is ``localCheckpoint``ed at its fan-out, exactly
    as in ``ngram_jaccard_pairs`` (measured 3.10 → 1.98 s on the q110
    shape at sf0.1 together with the ``shingles`` distinct-shuffle
    removal).
    """
    sh = shingles(df, text_col, id_col, n=n).localCheckpoint(eager=True)
    if max_doc_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sz_a = sizes.select(
        F.col(id_col).alias("id_a"), F.col("n_shingles").alias("sz_a")
    )
    sz_b = sizes.select(
        F.col(id_col).alias("id_b"), F.col("n_shingles").alias("sz_b")
    )
    return (
        shared.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "containment_a", F.round(F.col("n_shared") / F.col("sz_a"), 4)
        )
        .withColumn(
            "containment_b", F.round(F.col("n_shared") / F.col("sz_b"), 4)
        )
        .withColumn(
            "containment",
            F.round(
                F.greatest(
                    F.col("n_shared") / F.col("sz_a"),
                    F.col("n_shared") / F.col("sz_b"),
                ),
                4,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a", "id_b", "n_shared",
            "containment_a", "containment_b", "containment",
        )
    )


def _once(df: DataFrame, id_col: str, expr, name: str) -> DataFrame:
    """Materialize an expensive per-row expression exactly once.

    Column expressions are duplicated into every consumer after
    ProjectCollapse, so an md5-transform referenced by 8 output
    columns would run 8×.  ``explode(array(expr))`` wraps it in a
    Generate node (always exactly 1 output row per input row), which
    the collapse rule cannot inline through — downstream projections
    see a bound attribute, not the expression tree.
    """
    return df.select(F.col(id_col), F.explode(F.array(expr)).alias(name))


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """MinHash signature per document: ``MINHASH_NUM_HASHES`` columns
    ``mh_i`` over word ``MINHASH_N``-gram shingles.

    Each hash i is min over shingles of (a_i·h32(shingle)+b_i) mod p
    with the portable md5-derived base hash — bit-identical to the SQL
    oracle.  Computed entirely inside the row with higher-order array
    functions: ZERO shuffles, perfectly data-parallel at any scale
    (min over duplicate shingles == min over distinct shingles, so no
    dedup pass is needed either).  The md5 base hashes are computed
    once per shingle via the ``_once`` barrier; the per-function mins
    are cheap arithmetic re-scans of that array.

    Documents with fewer than ``MINHASH_N`` tokens have NO shingles and emit
    NO row — they are outside shingle-dedup's domain (use
    ``exact_dedup`` for empty/near-empty docs).  Before the r8 fix
    (found by the signature-portability fuzz test) they emitted
    all-NULL signatures, which the DuckDB twin omits (min over an
    empty relation is no row) AND which ``minhash_bands``' concat_ws
    collapsed into one shared ``""`` bucket — a hot quadratic
    candidate bucket of every short doc in the corpus.
    """
    return _signatures_from_arrays(
        _shingle_arrays(df, text_col, id_col, MINHASH_N, materialize=False),
        id_col,
        MINHASH_NUM_HASHES,
    )


def _shingle_arrays(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    materialize: bool = True,
    hashes48: DataFrame | None = None,
) -> DataFrame:
    """``(id, _h32s array<long>)`` — each doc's word-n-gram shingle
    hashes behind the ``_once`` Generate barrier, shingle-less docs
    dropped.  ``materialize`` ``localCheckpoint``s the frame at its
    fan-out (NOTES fact 18) so signature, banding, and verify
    consumers all read ONE executed tokenize→md5→fold scan; pass
    ``False`` for lazy single-consumer/streaming compositions.
    ``hashes48`` (a ``shared_token_hash48`` frame) replaces the
    tokenize→md5 part of that scan with the cross-detector shared
    materialization — same shingle hashes bit-for-bit.  When the
    shared frame was built with a MATCHING ``shingle_n`` (its
    ``_h32s{n}`` column), the pre-folded shingle arrays are read
    straight from it — no second materialization pass at all."""
    if hashes48 is not None and f"_h32s{n}" in hashes48.columns:
        _check_shared_scan(df, hashes48)
        # the shared checkpoint already stores this width's folds;
        # consumers project + filter it directly (it IS materialized)
        return hashes48.select(
            F.col(id_col), F.col(f"_h32s{n}").alias("_h32s")
        ).filter(F.size(F.col("_h32s")) > 0)
    bound = _bound_token_hashes(df, text_col, id_col, hashes48=hashes48)
    harr = _once(
        bound,
        id_col,
        F.expr(hashing.shingle_hash_array_spark_sql("_th", n)),
        "_h32s",
    ).filter(F.size(F.col("_h32s")) > 0)
    return harr.localCheckpoint(eager=True) if materialize else harr


def _signatures_from_arrays(
    harr: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """MinHash signature columns ``mh_i`` from a ``_shingle_arrays``
    frame: per-function mins are cheap in-row arithmetic re-scans of
    the hash array (min over duplicate shingles == min over distinct,
    so no dedup pass).  One F.expr round-trip per signature column
    (opt-r15) — same universal-hash expression, same int/bigint
    literal widths as the Python-built form."""
    params = hashing.MINHASH_PARAMS[:num_hashes]
    return harr.select(
        F.col(id_col),
        *[
            F.expr(
                f"array_min(transform(_h32s, h -> (h * {a} + {b}) % "
                f"{hashing.MERSENNE_P}))"
            ).alias(f"mh_{i}")
            for i, (a, b) in enumerate(params)
        ],
    )


def minhash_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = MINHASH_N,
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """(id, band, bucket): the LSH band table — each document's
    signature split into ``bands`` concatenated-bucket keys."""
    sig = _signatures_from_arrays(
        _shingle_arrays(df, text_col, id_col, n, materialize=False),
        id_col,
        num_hashes,
    )
    return _bands_from_signatures(sig, id_col, num_hashes, bands)


def _bands_from_signatures(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) from a signature frame: each signature split
    into ``bands`` concatenated-bucket keys via one Generate.  The
    struct array enters as ONE F.expr (opt-r15) — same band literals,
    same concat_ws buckets."""
    rows_per_band = num_hashes // bands
    structs = ", ".join(
        f"struct({bi} AS band, concat_ws('_', "
        + ", ".join(
            f"mh_{bi * rows_per_band + r}" for r in range(rows_per_band)
        )
        + ") AS bucket)"
        for bi in range(bands)
    )
    return sig.select(
        F.col(id_col), F.explode(F.expr(f"array({structs})")).alias("bk")
    ).select(
        F.col(id_col),
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = MINHASH_N,
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    verify_threshold: float = 0.2,
    hashes48: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact Jaccard verification.

    Signature → split into ``bands`` bands of num_hashes/bands rows →
    candidate pairs share any full band (equi-join on the band key —
    the LSH trick that makes near-dup detection O(candidates) instead
    of O(n²)) → verified with exact shingle Jaccard computed ONLY for
    candidate pairs (the whole point of LSH: verification cost scales
    with candidates, never with all n² pairs).

    The per-doc shingle-hash ARRAY frame is ``localCheckpoint``ed once
    at its fan-out (NOTES fact 18): the banding side and BOTH verify
    shingle sides read the materialized arrays, the per-doc
    shingle-set sizes become an in-row ``size(array_distinct(...))``
    (no groupBy shuffle at all), and the tokenize→md5 scan runs
    exactly once — where a lazy plan re-runs it per differently-keyed
    consumer (the band self-join's two sides dedupe via
    ReusedExchange, but the verify sides shuffle on different keys
    and cannot).  Measured 1.92 → 1.00 s at sf0.1.  The checkpoint
    makes the call batch-only.

    ``hashes48`` (a ``shared_token_hash48`` frame over the same
    corpus/text/id) lets an ENSEMBLE caller share the tokenize→md5
    scan with other detectors — the shingle fold then derives from
    the shared materialization instead of re-hashing (bit-identical
    output).
    """
    harr = _shingle_arrays(df, text_col, id_col, n, hashes48=hashes48)
    banded = _bands_from_signatures(
        _signatures_from_arrays(harr, id_col, num_hashes),
        id_col, num_hashes, bands,
    )
    sh = harr.select(
        F.col(id_col),
        F.explode(F.array_distinct("_h32s")).alias("shingle"),
    )
    sizes = harr.select(
        F.col(id_col),
        F.size(F.array_distinct("_h32s")).alias("n_shingles"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    candidates = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # Exact-Jaccard verify restricted to candidates: intersect shingle
    # sets pair-by-pair via two equi-joins (candidate × its shingles),
    # then |A∩B| / (|A|+|B|−|A∩B|).
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("sz_b"))
    return (
        shared.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "n_shared", "jaccard")
    )


def incremental_neardup_admission(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = MINHASH_N,
    verify_threshold: float = 0.2,
) -> DataFrame:
    """Admission gate for incremental ingestion: for each NEW document,
    the count of verified near-duplicates already in the corpus —
    admit (``n_matches = 0``) or reject without ever comparing new
    docs to each other or re-pairing the corpus against itself.

    Batches cost O(batch signatures + corpus signatures + candidates),
    never O(corpus²): candidate verification re-derives shingles only
    through equi-joins that touch matched documents.

    Semantics are exactly ``minhash_lsh_pairs`` over the union,
    restricted to (new × corpus) pairs — pinned by the catalog oracle
    (q76), which computes full-corpus pairs and filters to the split.

    Each side's shingle-hash arrays are ``localCheckpoint``ed at their
    fan-out (banding + verify shingles + sizes — NOTES fact 18), so
    the batch and the corpus are each hashed once instead of up to
    three times.
    """

    def side(frame, key, size_col):
        """(bands, shingles, sizes) of one side, keyed on ``key``."""
        harr = _shingle_arrays(frame, text_col, id_col, n)
        banded = _bands_from_signatures(
            _signatures_from_arrays(harr, id_col, MINHASH_NUM_HASHES),
            id_col, MINHASH_NUM_HASHES, MINHASH_BANDS,
        )
        sh = harr.select(
            F.col(id_col).alias(key),
            F.explode(F.array_distinct("_h32s")).alias("shingle"),
        )
        sz = harr.select(
            F.col(id_col).alias(key),
            F.size(F.array_distinct("_h32s")).alias(size_col),
        )
        keyed = banded.select(F.col(id_col).alias(key), "band", "bucket")
        return keyed, sh, sz

    nb, sh_new, sz_new = side(new_df, "_id_new", "sz_n")
    cb, sh_old, sz_old = side(corpus_df, "_id_old", "sz_o")
    candidates = (
        nb.join(cb, ["band", "bucket"]).select("_id_new", "_id_old").distinct()
    )
    shared = (
        candidates.join(sh_new, "_id_new")
        .join(sh_old, ["_id_old", "shingle"])
        .groupBy("_id_new", "_id_old")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    verified = (
        shared.join(sz_new, "_id_new")
        .join(sz_old, "_id_old")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("sz_n") + F.col("sz_o") - F.col("n_shared")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= verify_threshold)
    )
    matches = verified.groupBy("_id_new").agg(
        F.count(F.lit(1)).alias("n_matches")
    )
    return (
        new_df.select(F.col(id_col))
        .join(matches.withColumnRenamed("_id_new", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_matches"), F.lit(0)).cast("long").alias(
                "n_matches"
            ),
            (F.coalesce(F.col("n_matches"), F.lit(0)) == 0)
            .cast("int")
            .alias("admitted"),
        )
    )


def cross_corpus_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Decontamination report: corpus documents sharing at least one
    word ``OVERLAP_N``-gram with a benchmark/eval set (train-test leakage check —
    the gate every pretraining pipeline runs before shipping a corpus).

    Returns (id, n_shared_grams, n_eval_docs) for CONTAMINATED corpus
    docs only.  Candidates come from an equi-join on the n-gram shingle
    hash with the benchmark side broadcast (eval sets are tiny next to
    a 100 TB corpus) — the corpus is scanned once, never shuffled on
    data volume, and shingle strings never materialize (hash-folded,
    functions/hashing.py).
    """
    c_sh = shingles(corpus, text_col, id_col, n=OVERLAP_N)
    b_sh = shingles(benchmark, text_col, id_col, n=OVERLAP_N).select(
        F.col(id_col).alias("_eval_id"), "shingle"
    )
    return (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_grams"),
            F.countDistinct("_eval_id").alias("n_eval_docs"),
        )
    )


def _build_bloom(keys_u64, bits_per_key: int, seed: int):
    """Vectorized blocked-free Bloom bitset over uint64 keys.

    m = next power of two ≥ bits_per_key·n (so probes are a multiply +
    shift, no modulo); k ≈ bits_per_key·ln2 multiplicative hash
    functions (odd 64-bit constants — the keys are already uniform
    shingle hashes, so Knuth multiplicative mixing of the TOP log2(m)
    bits suffices).  Returns (packed_words, shift, constants).
    """
    import numpy as np

    n = max(int(keys_u64.size), 1)
    m = 1 << max(int(np.ceil(np.log2(n * bits_per_key))), 6)
    k = max(1, int(round(bits_per_key * 0.6931)))
    rng = np.random.default_rng(seed)
    consts = (
        rng.integers(1, 2**62, size=k, dtype=np.uint64) << np.uint64(1)
    ) | np.uint64(1)
    shift = np.uint64(64 - int(np.log2(m)))
    words = np.zeros(m >> 6, dtype=np.uint64)
    for c in consts:
        pos = (keys_u64 * c) >> shift
        # fancy |= drops duplicate indices; bitwise_or.at accumulates
        np.bitwise_or.at(
            words, pos >> np.uint64(6),
            np.uint64(1) << (pos & np.uint64(63)),
        )
    return words, shift, consts


def _bloom_probe(vals_u64, words, shift, consts):
    import numpy as np

    ok = np.ones(vals_u64.size, dtype=bool)
    for c in consts:
        pos = (vals_u64 * c) >> shift
        ok &= ((words[pos >> np.uint64(6)] >> (pos & np.uint64(63)))
               & np.uint64(1)).astype(bool)
    return ok


def bloom_cross_corpus_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    bits_per_key: int = 16,
) -> DataFrame:
    """``cross_corpus_overlap`` for eval sets TOO LARGE to broadcast
    as a join hash table — same output contract, exact results.

    Scale shape: the corpus scan carries an in-row Bloom prefilter
    (Arrow-batched pandas UDF probing a broadcast numpy bitset —
    bits_per_key·n_eval_shingles BITS on each executor, ~1/30th of a
    JVM broadcast-hash-join table for the same keys), which drops
    ~every clean shingle at the scan.  Only the tiny survivor set
    (true hits + ~0.04% false positives at 16 bits/key) reaches the
    confirm equi-join, which therefore shuffles almost nothing — and
    the confirm join makes the result EXACT: Bloom false positives
    are eliminated there, and false negatives are impossible by
    construction.  The driver transiently holds the distinct eval
    shingle hash array (Arrow transfer) to build the bitset; the
    executors never hold more than the bitset.
    """
    import numpy as np

    c_sh = shingles(corpus, text_col, id_col, n=OVERLAP_N)
    b_sh = shingles(benchmark, text_col, id_col, n=OVERLAP_N).select(
        F.col(id_col).alias("_eval_id"), "shingle"
    )
    uniq = (
        b_sh.select("shingle")
        .distinct()
        .toPandas()["shingle"]
        .to_numpy(dtype=np.int64)
        .view(np.uint64)
    )
    words, shift, consts = _build_bloom(uniq, bits_per_key, seed=7)
    bc = corpus.sparkSession.sparkContext.broadcast((words, shift, consts))

    @F.pandas_udf("boolean")
    def might_contain(s):
        import pandas as pd

        w, sh, cs = bc.value
        vals = s.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
        return pd.Series(_bloom_probe(vals, w, sh, cs))

    survivors = c_sh.filter(might_contain(F.col("shingle")))
    # deliberately NOT broadcast: the whole point is the eval side no
    # longer fits an executor hash table; survivors are tiny, so the
    # shuffle exchanges almost nothing
    return (
        survivors.join(b_sh, "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_grams"),
            F.countDistinct("_eval_id").alias("n_eval_docs"),
        )
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over a near-dup pair list: (id, component)
    with component = the minimum id reachable from the node.

    This is the operator that turns PAIRS into DEDUP DECISIONS — near
    duplicates are transitive in practice (A≈B, B≈C ⇒ one cluster), so
    keeping one representative per component, not per pair, is what a
    corpus dedup actually ships.

    One Spark job: the ``id_a``/``id_b`` columns are collected once and
    resolved on the driver by union-find (path halving, union by min
    root, so each root is its component's minimum id).  Driver memory
    is O(pairs): the collected rows plus a parent map of at most
    2 × pairs entries.  Pair lists are post-verification survivors,
    orders of magnitude smaller than the corpus — at sf0.1 the catalog
    entries that call this pass 256 (q48, q49, q73), 3 (q70) and
    83,107 (q97, q98) pairs, and the ``curation`` workload's 300
    documents allow at most 44,850.  Only nodes that appear in
    ``pairs`` are returned — isolated docs are their own (implicit)
    singleton component.

    A null id raises ``ValueError``: silently dropping a null-endpoint
    edge could split a component and ship a wrong dedup decision.
    """
    from pyspark.sql.types import StructField, StructType

    from .scale import local_frame

    rows = pairs.select("id_a", "id_b").collect()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        if a is None or b is None:
            n_null = sum((r[0] is None) + (r[1] is None) for r in rows)
            raise ValueError(
                f"connected_components: {n_null} null id(s) in the "
                f"pair list (id_a/id_b) — a null edge endpoint cannot "
                f"be labeled; filter or fix upstream candidate generation"
            )
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    id_type = pairs.schema["id_a"].dataType
    schema = StructType(
        [
            StructField("id", id_type, False),
            StructField("component", id_type, False),
        ]
    )
    # JVM-side local relation (operators/scale.local_frame): the label
    # table is consumed by a broadcast join, and a Python-local frame
    # would pay a Python-worker launch per partition to build it
    # (NOTES fact 23)
    return local_frame(
        pairs.sparkSession, [(v, find(v)) for v in parent], schema
    )


def neardup_dedup_keep_first(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Cluster-aware near-dup removal: resolve ``pairs`` into connected
    components and keep only each component's minimum-id representative
    (docs in no pair survive untouched).  One anti-join against the
    (tiny) non-representative set — the corpus itself is scanned once.
    """
    comp = connected_components(pairs)
    non_reps = comp.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(non_reps, id_col, "left_anti")


def simhash_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    hashes48: DataFrame | None = None,
) -> DataFrame:
    """32-bit SimHash per document from whitespace tokens.

    Bit j of the fingerprint = sign of Σ_tokens (±1 by token-hash bit j)
    — tokens vote per bit position, near-identical documents land at
    small Hamming distance.  Computed inside the row: one md5+conv per
    token (materialized once via the ``_once`` barrier), then 32
    integer bit-test counts over the long array — ZERO shuffles at any
    corpus size, and no per-bit string ops in the codegen'd tree.

    Token-less documents (empty/whitespace-only text) emit NO row —
    same domain contract and r8 rationale as ``minhash_signatures``:
    the DuckDB twin omits them, and a shared all-zero fingerprint
    would otherwise funnel every empty doc in the corpus into one hot
    banding bucket AND emit them all as mutual hamming-0 "near-dups"
    (exact_dedup is the right tool for empty docs).

    ``hashes48`` (a ``shared_token_hash48`` frame) derives the SimHash
    token hash as ``_th48 >> 16`` — exactly the value of the first 8
    md5 hex digits, i.e. bit-identical to the standalone scan — so an
    ensemble caller pays the md5 pass once across detectors.
    """
    if hashes48 is not None:
        _check_shared_scan(df, hashes48)
        hashed = _once(
            hashes48,
            id_col,
            F.transform(F.col("_th48"), lambda h: F.shiftright(h, 16)),
            "_h",
        ).filter(F.size(F.col("_h")) > 0)
    else:
        from ..functions.text import word_tokens_spark_sql

        hashes = F.expr(
            hashing.simhash_token_hashes_spark_sql(
                word_tokens_spark_sql(text_col)
            )
        )
        hashed = _once(ensure_parallelism(df), id_col, hashes, "_h").filter(
            F.size(F.col("_h")) > 0
        )

    # ONE F.expr round-trip for the whole fingerprint (opt-r15): the
    # per-bit Python loop cost ~8 py4j trips per bit × 32 bits — a
    # measured 0.8-1.0 s of pure plan construction per call site
    # (q97 profile) — while the parsed tree is identical: per bit j,
    # vote = size(filter(_h, (h>>j)&1 = 1))*2 − size(_h); fingerprint
    # = Σ (vote_j > 0 ? 2^j : 0), left-folded from 0, cast long.
    def vote_sql(j: int) -> str:
        return (
            f"(size(filter(_h, h -> (shiftright(h, {j}) & 1) = 1)) * 2"
            " - size(_h))"
        )

    terms = " + ".join(
        f"(CASE WHEN {vote_sql(j)} > 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    fingerprint_sql = f"CAST(0 + {terms} AS BIGINT)"
    return hashed.select(
        F.col(id_col), F.expr(fingerprint_sql).alias("simhash")
    )


def hamming_banded_pairs(
    fp: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 32,
    band_bits: int = 8,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs over ANY integer fingerprint column by banded
    Hamming search: band the fingerprint (pigeonhole — any pair within
    ``max_hamming`` shares at least one exact band when bands >
    max_hamming), equi-join per band, verify Hamming distance via
    bit_count(xor).  The shared engine behind text SimHash (q21/q28)
    and image dHash (r7): in-row banding, one (band, bucket) hash
    shuffle, candidate-bounded verification — corpus-linear at any
    scale for bounded bucket skew.

    Recall contract: TOTAL (every qualifying pair emitted) only when
    bands > max_hamming; with fewer bands the pigeonhole argument
    lapses and this is approximate candidate generation — q28
    deliberately runs there (max_hamming=6 over 4 bands, rows-only by
    contract), so the looser setting is allowed, not raised on.

    Output: (id_a, id_b, hamming), id_a < id_b, one row per verified
    pair.
    """
    n_bands = bits // band_bits
    if bits % band_bits != 0:
        raise ValueError(
            f"band_bits={band_bits} must divide bits={bits} evenly"
        )
    # one F.expr for the band-struct array (opt-r15): same band
    # literals, same shift/mask buckets as the per-band Python loop
    mask = (1 << band_bits) - 1
    structs = ", ".join(
        f"struct({bi} AS band, "
        f"shiftrightunsigned(`{hash_col}`, {bi * band_bits}) & {mask} "
        "AS bucket)"
        for bi in range(n_bands)
    )
    banded = fp.select(
        F.col(id_col),
        hash_col,
        F.explode(F.expr(f"array({structs})")).alias("bk"),
    ).select(F.col(id_col), hash_col, F.col("bk.band"), F.col("bk.bucket"))

    a = banded.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("sh_a"),
        "band", "bucket",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("sh_b"),
        "band", "bucket",
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hashes48: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: ``simhash_fingerprints`` +
    ``hamming_banded_pairs`` (see there for the banding/verify
    contract).  ``hashes48`` shares the tokenize→md5 scan with other
    detectors (see ``shared_token_hash48``)."""
    fp = simhash_fingerprints(
        df, text_col, id_col, hashes48=hashes48
    )
    return hamming_banded_pairs(
        fp,
        id_col,
        "simhash",
        bits=SIMHASH_BITS,
        band_bits=8,
        max_hamming=max_hamming,
    )


def fingerprint_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 8,
) -> DataFrame:
    """Fingerprint-tier decontamination: corpus documents sharing any
    winnowed fingerprint with a benchmark/eval document.

    The sparser companion to ``cross_corpus_overlap`` — TRUE winnowing
    (min k-gram hash per sliding window of ``window`` grams) keeps an
    expected 2/(window+1) of the hashes, so at 100 TB this join
    touches a several-fold smaller signature table, with the winnowing
    GUARANTEE: any shared verbatim span of ≥ window + k − 1 tokens is
    caught deterministically (``winnowed_fingerprint_set``; the
    previous 0-mod-p sampling missed such spans with probability
    ≈ (1−1/p)^window).  Benchmark fingerprints broadcast (eval sets
    are tiny); the corpus is scanned once and shuffled only on the
    matched subset.
    """
    from ..functions.textstats import winnowed_fingerprint_set

    cf = winnowed_fingerprint_set(corpus, text_col, id_col, k=k, window=window)
    bf = (
        winnowed_fingerprint_set(
            benchmark, text_col, id_col, k=k, window=window
        )
        .select("fingerprint")
        .distinct()
    )
    return (
        cf.join(F.broadcast(bf), "fingerprint")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_fingerprints"))
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
) -> DataFrame:
    """Exact duplicated-substring detection — the suffix-array-style
    dedup of the training-data literature (flag any ≥k-token span that
    occurs more than once in the corpus), re-expressed relationally.

    Plan: positioned k-gram hashes in-row (posexplode), one corpus
    shuffle on the window hash to find hashes occurring ≥2 times
    (map-side-combinable count), a semi-join back, then per-document
    gaps-and-islands to merge duplicate windows whose COVERAGE
    overlaps or touches into maximal spans (window partitioned by doc
    — parallel across docs).  Returns (id, span_start, span_end,
    n_windows) in token offsets, span_end inclusive.

    Two windows at positions p < q cover overlapping token ranges when
    q − p ≤ k−1 and adjacent ranges when q − p = k, so islands break
    only at q − p > k: the output spans are DISJOINT and non-adjacent
    (interval union of window coverage) — consumers may sum
    ``span_end − span_start + 1`` without double-counting.  (A break
    at q − p > 1 would split overlapping windows into overlapping
    spans whenever a non-duplicated window sits between two duplicated
    ones.)
    """
    from pyspark.sql import Window

    pos_rows = _positioned_window_hashes(df, text_col, id_col, k)
    dup_hashes = (
        pos_rows.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("h")
    )
    dup_pos = pos_rows.join(dup_hashes, "h", "left_semi")
    return _merge_windows_to_spans(dup_pos, id_col, k)


def _positioned_window_hashes(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, pos, h): every k-token window's hash with its 0-based
    token offset — the shared candidate layout of the span family
    (intra-corpus ``duplicated_spans``, cross-doc ``common_spans``)."""
    bound = _bound_token_hashes(df, text_col, id_col)
    grams = hashing.shingle_hash_array(F.col("_th"), k)
    return bound.select(F.col(id_col), F.posexplode(grams).alias("pos", "h"))


def _merge_windows_to_spans(
    dup_pos: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Per-document gaps-and-islands over flagged window positions →
    maximal disjoint spans (see ``duplicated_spans`` for the
    q − p ≤ k break-condition proof)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    # new island when this window's coverage neither overlaps nor
    # touches the previous one's (first row: lag null -> break)
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)
    )
    grouped = dup_pos.withColumn("_g", F.sum(brk).over(w))
    return (
        grouped.groupBy(id_col, "_g")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("_g")
    )


def common_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document boilerplate detection (the CCNet/RefinedWeb
    repeated-content pass): maximal spans of k-token windows that
    occur in ≥ ``min_docs`` DISTINCT documents.

    The intra-document sibling of ``duplicated_spans`` differs in ONE
    predicate: a window is boilerplate by its document frequency, not
    its raw occurrence count — a phrase repeated 50× inside one
    document is repetition (q57's territory), not boilerplate, and a
    header shared verbatim by a third of the corpus is boilerplate
    even though each document contains it once.

    Plan: the same positioned-window layout, then distinct (h, id)
    before the count — two shuffles on the window hash (the distinct
    and the count are co-partitioned, so AQE coalesces them into one
    exchange's worth of data movement), a semi-join back, and the
    per-document island merge.  At 100 TB the df table (hashes with
    ≥ min_docs docs) is a small fraction of the window count and the
    semi-join shuffles only flagged positions.
    """
    pos_rows = _positioned_window_hashes(df, text_col, id_col, k)
    boilerplate = (
        pos_rows.select("h", id_col)
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("h")
    )
    flagged = pos_rows.join(boilerplate, "h", "left_semi")
    return _merge_windows_to_spans(flagged, id_col, k)


def leakage_free_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    seed: str = "seed0",
    eval_hex: str = "1a",
) -> DataFrame:
    """Leakage-free train/eval split: assign every document to a split
    by the md5 of its near-duplicate COMPONENT representative, so a
    clone group can never straddle the train/eval boundary (the
    classic contamination-by-construction bug a row-level random split
    commits on a deduplicated-but-clustered corpus).

    ``pairs`` is any near-dup pair list (e.g. ``minhash_lsh_pairs``);
    components come from ``connected_components``; documents in no
    pair are their own representative.  The split is DETERMINISTIC —
    ``md5(seed || ':' || rep)``'s first two hex chars compared against
    ``eval_hex`` ('1a' ⇒ 26/256 ≈ 10% eval) — so it is reproducible
    across runs/engines and oracle-exact, unlike an RNG split.

    Scale: the component table is bounded by the pair list (≪ corpus)
    and broadcast into the one corpus-side join; the corpus itself is
    never shuffled.  Returns (id, split_key, split).
    """
    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    rep = F.coalesce(F.col("component"), F.col(id_col))
    digest = F.md5(
        F.encode(
            F.concat(F.lit(seed), F.lit(":"), rep.cast("string")), "utf-8"
        )
    )
    return (
        df.join(F.broadcast(comp), id_col, "left")
        .select(
            F.col(id_col),
            rep.alias("split_key"),
            F.when(
                F.substring(digest, 1, 2) < F.lit(eval_hex), F.lit("eval")
            )
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


def strip_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Remove token ranges from documents — the applied form of
    ``duplicated_spans`` (boilerplate/duplicate stripping).

    ``spans`` is any (id, span_start, span_end) frame with INCLUSIVE
    0-based token offsets (e.g. ``duplicated_spans`` output, filtered
    by whatever keep-policy the caller wants).  Spans are collected to
    one array per document (tiny — spans ≪ tokens) and tokens are
    dropped in-row with an index lambda; documents without spans pass
    through untouched.  One equi-join on the doc key, no shuffle of
    the corpus beyond it.
    """
    from .scale import ensure_parallelism

    span_arrays = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_spans")
    )
    joined = ensure_parallelism(df).join(span_arrays, id_col, "left")
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    sp = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<s:long,e:long>>"),
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(sp, lambda r: (i >= r["s"]) & (i <= r["e"])),
    )
    return joined.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens_before"),
        F.size(kept).cast("long").alias("n_tokens_after"),
        F.array_join(kept, " ").alias("text_stripped"),
    )


def decontamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Eval-set contamination SPANS: maximal ranges of corpus tokens
    covered by a k-token window that appears verbatim anywhere in the
    benchmark corpus — the detection stage of span-level
    decontamination.  Where the q50/q65/q69 family FLAGS contaminated
    documents (the drop-the-whole-doc policy), this locates the
    contaminated ranges so ``strip_contamination`` can remove just
    the leaked text and keep the document — the policy production
    pipelines prefer when eval sentences leak into otherwise-good
    web pages.

    Scale: the benchmark's distinct window-hash set is small relative
    to the corpus (eval suites are fixed-size) and is BROADCAST into
    a semi-join against the corpus's positioned windows, so the
    corpus is never shuffled for candidate generation; only flagged
    positions enter the per-document gaps-and-islands merge.  For
    eval sets beyond broadcast reach, detect docs first with the
    Bloom tier (``bloom_cross_corpus_overlap``) and run this only on
    the flagged subset.

    The benchmark's text is read from ``text_col`` too.  Returns (id,
    span_start, span_end, n_windows) with INCLUSIVE 0-based token
    offsets — ``strip_spans``' input contract.
    """
    ev = (
        _positioned_window_hashes(
            benchmark.select(F.col(text_col).alias("_bt")).withColumn(
                "_bid", F.monotonically_increasing_id()
            ),
            "_bt",
            "_bid",
            k,
        )
        .select("h")
        .distinct()
    )
    pos = _positioned_window_hashes(corpus, text_col, id_col, k)
    flagged = pos.join(F.broadcast(ev), "h", "left_semi")
    return _merge_windows_to_spans(flagged, id_col, k)


def strip_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Applied span-level decontamination: ``strip_spans`` over
    ``decontamination_spans`` — every corpus token covered by a
    benchmark k-gram removed, documents otherwise kept intact.
    Returns (id, n_tokens_before, n_tokens_after, text_stripped)."""
    spans = decontamination_spans(corpus, benchmark, text_col, id_col, k)
    return strip_spans(corpus, spans, text_col, id_col)


def pair_overlap_stats(
    approx_pairs: DataFrame,
    exact_pairs: DataFrame,
) -> DataFrame:
    """Pair-level recall/precision of an approximate near-dup method
    against an exact ground-truth pair set — the go/no-go gate for
    swapping banding (MinHash-LSH, SimHash) in for exact Jaccard,
    symmetric to the ANN recall panel.

    Both inputs are pair lists (already candidate-bounded); ONE full
    outer equi-join on the normalized (lo, hi) pair key with
    membership flags, then a single aggregate — no 1-row cross joins.
    Returns ONE row: n_exact, n_approx, n_overlap, pair_recall,
    pair_precision (null on empty sides, ANSI-safe).
    """

    def norm(df: DataFrame, flag: str) -> DataFrame:
        return (
            df.select(
                F.least(F.col("id_a"), F.col("id_b")).alias("_lo"),
                F.greatest(F.col("id_a"), F.col("id_b")).alias("_hi"),
            )
            .distinct()
            .withColumn(flag, F.lit(1))
        )

    joined = norm(exact_pairs, "_e").join(
        norm(approx_pairs, "_a"), ["_lo", "_hi"], "full_outer"
    )
    counts = joined.agg(
        F.sum(F.coalesce(F.col("_e"), F.lit(0))).alias("n_exact"),
        F.sum(F.coalesce(F.col("_a"), F.lit(0))).alias("n_approx"),
        F.sum(
            F.coalesce(F.col("_e"), F.lit(0)) * F.coalesce(F.col("_a"), F.lit(0))
        ).alias("n_overlap"),
    )
    return counts.select(
        "n_exact",
        "n_approx",
        "n_overlap",
        F.round(F.try_divide(F.col("n_overlap"), F.col("n_exact")), 4).alias(
            "pair_recall"
        ),
        F.round(F.try_divide(F.col("n_overlap"), F.col("n_approx")), 4).alias(
            "pair_precision"
        ),
    )


def cross_source_neardup_matrix(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    source_col: str,
) -> DataFrame:
    """Cross-source duplication matrix: for a verified near-dup pair
    list (e.g. ``minhash_lsh_pairs``), count pairs per unordered
    source pair — the artifact a curation run reviews to decide
    dedup scope (within-source only vs global) and to spot snapshot
    overlap/leakage between crawls.

    Output: one row per unordered ``(source_a, source_b)`` with
    ``source_a <= source_b``, the pair count, and the maximum verified
    ``jaccard`` — max, not mean, because it is order-independent and
    exact under value-hash comparison.

    Scale shape: the pair list is orders of magnitude smaller than
    the corpus (LSH-bounded), so it is BROADCAST into the corpus'
    (id, source) projection twice — the corpus is never shuffled, and
    the final aggregate runs on pair-list volume.
    """
    srcs = docs.select(
        F.col(id_col).alias("_cid"), F.col(source_col).alias("_csrc")
    )
    annotated = (
        srcs.join(
            F.broadcast(pairs), srcs["_cid"] == pairs["id_a"], "inner"
        )
        .drop("_cid")
        .withColumnRenamed("_csrc", "_src_a")
    )
    annotated = (
        srcs.join(
            F.broadcast(annotated),
            srcs["_cid"] == annotated["id_b"],
            "inner",
        )
        .drop("_cid")
        .withColumnRenamed("_csrc", "_src_b")
    )
    return (
        annotated.select(
            F.least("_src_a", "_src_b").alias("source_a"),
            F.greatest("_src_a", "_src_b").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def cross_corpus_overlap_fractions(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_fraction: float = 0.0,
) -> DataFrame:
    """Thresholded decontamination report: per (corpus doc, eval doc)
    pair, the fraction of the EVAL doc's n-grams present in the corpus
    doc — the form production decontamination actually gates on
    (an eval item counts as leaked only when a sizable share of it
    appears, not on any single n-gram; ``cross_corpus_overlap`` is
    the any-overlap flag form).

    Output: (id, eval_id, n_shared_grams, n_eval_grams, overlap_frac)
    for pairs with ``overlap_frac >= min_fraction``, fraction rounded
    to 4 (value-hash stable).

    Scale shape: same as ``cross_corpus_overlap`` — both the eval
    shingle table and the per-eval-doc size table are broadcast (eval
    sets ≪ corpus); the corpus is scanned once and shuffled only on
    the (id, eval_id) pair aggregate, whose volume is bounded by
    shared-shingle matches, not corpus size.
    """
    c_sh = shingles(corpus, text_col, id_col, n=n)
    b_sh = shingles(benchmark, text_col, id_col, n=n).select(
        F.col(id_col).alias("eval_id"), "shingle"
    )
    b_sizes = b_sh.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("n_eval_grams")
    )
    pairs = (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy(id_col, "eval_id")
        .agg(F.countDistinct("shingle").alias("n_shared_grams"))
    )
    return (
        pairs.join(F.broadcast(b_sizes), "eval_id")
        .withColumn(
            "overlap_frac",
            F.round(F.col("n_shared_grams") / F.col("n_eval_grams"), 4),
        )
        .filter(F.col("overlap_frac") >= min_fraction)
        .select(
            id_col, "eval_id", "n_shared_grams", "n_eval_grams",
            "overlap_frac",
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental-crawl delta between two corpus snapshots: per
    document id, ``added`` (id only in new), ``removed`` (only in
    old), or ``changed`` (both, different content digest).  Unchanged
    documents are NOT emitted — the output is bounded by the churn,
    not the corpus, which is what makes daily snapshot processing
    cheap: downstream stages (re-signing, admission, re-scoring) run
    on this delta only.

    Content identity is ``md5(text)`` computed in-row on each side;
    the only shuffle is the full outer equi-join on ``id_col`` —
    write both snapshots with ``bucketBy`` on the id and the join is
    shuffle-free bucket-to-bucket.

    Presence is tracked with explicit join-side markers, NOT digest
    nullity: ``md5(NULL)`` is NULL, so a digest-based test would call
    a document with NULL old text "added", NULL new text "removed",
    and (under three-valued ``!=``) silently drop a NULL↔text change
    as unchanged.  Digests compare null-safely (``eqNullSafe``).
    """
    o = old.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("_d_old"),
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("_d_new"),
        F.lit(1).alias("_in_new"),
    )
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(
            ~F.col("_d_old").eqNullSafe(F.col("_d_new")), F.lit("changed")
        )
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            id_col,
            "status",
            F.col("_d_new").alias("digest"),
        )
    )


def neardup_ensemble(pair_sources: dict[str, DataFrame]) -> DataFrame:
    """One adjudicated near-dup decision from MANY candidate methods —
    the composition users actually run (r7 VERDICT "do this" #7):
    MinHash-LSH catches shared shingles, SimHash catches bit-level
    drift, SemDeDup/embedding catches paraphrase; each alone has
    blind spots, so production dedup unions their VERIFIED pairs and
    resolves once.

    ``pair_sources`` maps a method name to its verified pair frame
    (any columns; only ``id_a``/``id_b`` are read — pass the direct
    output of ``minhash_lsh_pairs``/``simhash_neardup_pairs``/
    ``embedding_neardup_pairs``/...).  Pairs are normalized to
    ``least < greatest`` so reversed emissions collapse, then grouped:
    one output row per distinct pair with ``methods`` (sorted
    comma-joined provenance — which detectors agree), ``n_methods``,
    and ``component`` — the connected-components label over the WHOLE
    union (``connected_components``), so transitive clusters merge
    even when each edge came from a different method and a downstream
    keep-one-per-component dedup has a single table to act on.

    Scale: the union is a few pair lists (post-verification survivors
    — orders of magnitude smaller than the corpus), one (id_a, id_b)
    hash shuffle groups them, and CC runs on exactly that bounded
    edge set; the corpus itself is never touched here.  The
    adjudicated table is MATERIALIZED once (an eager
    ``localCheckpoint``, the module docstring's trade) because two
    consumers read it: the component computation and the output
    join.  Without that, every member's full candidate
    pipeline re-executes per consumer — measured 119 s → 64 s on the
    sf1 rehearsal's clone-heavy 8.3M-pair union (NOTES r8).
    """
    if not pair_sources:
        raise ValueError("neardup_ensemble requires at least one method")
    tagged = []
    for method, pairs in sorted(pair_sources.items()):
        lo, hi = F.least(F.col("id_a"), F.col("id_b")), F.greatest(
            F.col("id_a"), F.col("id_b")
        )
        tagged.append(
            pairs.select(
                lo.alias("id_a"), hi.alias("id_b"), F.lit(method).alias("_m")
            )
        )
    allp = tagged[0]
    for t in tagged[1:]:
        allp = allp.unionByName(t)
    adjudicated = allp.groupBy("id_a", "id_b").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("_m"))).alias("methods"),
        F.count_distinct("_m").cast("int").alias("n_methods"),
    )
    # two consumers (CC + output join) — materialize the member
    # pipelines once; see the docstring's scale note
    adjudicated = adjudicated.localCheckpoint(eager=True)
    comp = connected_components(adjudicated.select("id_a", "id_b"))
    return adjudicated.join(
        comp.withColumnRenamed("id", "id_a"), "id_a"
    ).select("id_a", "id_b", "methods", "n_methods", "component")


def ensemble_dedup_keep_first(
    df: DataFrame,
    pair_sources: dict[str, DataFrame],
    id_col: str,
) -> DataFrame:
    """The APPLIED form of ``neardup_ensemble``: remove from ``df``
    every document that is a non-representative member of an ensemble
    component — one dedup decision over the union of ALL methods'
    verified pairs (keep each component's minimum id, q49's
    convention; docs in no pair survive untouched).

    Pair endpoints outside ``df``'s id space (e.g. embedding-side
    synthetic ids) still participate in component formation but never
    affect which ``df`` rows survive: the representative is the
    minimum over the ids ACTUALLY PRESENT in ``df`` (r8 ADVICE — with
    the naive component-min, a synthetic endpoint that sorted below
    every real id would become the "kept" representative and delete
    every real member of its component), and the final step is one
    anti-join of ``df`` against the non-representative present-id
    set.  A component with no ``df`` member removes nothing.

    Scale: the union of post-verification pair lists is corpus-small,
    CC runs on that edge set only, and the corpus is never shuffled —
    the presence probe and the anti-join both broadcast the tiny
    CC-node/non-representative sides, two map-side passes over
    ``df``.
    """
    if not pair_sources:
        raise ValueError(
            "ensemble_dedup_keep_first requires at least one method"
        )
    frames = [
        p.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
        )
        for p in pair_sources.values()
    ]
    allp = frames[0]
    for f in frames[1:]:
        allp = allp.unionByName(f)
    comp = connected_components(allp.distinct())
    # restrict to ids present in df BEFORE electing representatives:
    # min over present ids, not over all endpoints (see docstring).
    # Join direction keeps the corpus on the streaming side — comp is
    # pair-endpoint-sized, so AQE broadcasts it and df never shuffles.
    present = df.select(F.col(id_col).alias("id")).join(comp, "id")
    reps = present.groupBy("component").agg(F.min("id").alias("_rep"))
    non_reps = (
        present.join(reps, "component")
        .filter(F.col("id") != F.col("_rep"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(non_reps, id_col, "left_anti")


def incremental_refresh(
    old: DataFrame,
    new: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Continuous-crawl corpus refresh — ``snapshot_diff`` composed
    with ``incremental_neardup_admission``, the end-to-end shape of a
    production re-crawl: diff the snapshots, take the added/changed
    documents as the ingest batch, and gate that batch against the
    UNCHANGED retained corpus for near-duplicates.  Returns one row
    per delta document: (``id_col``, status 'added'|'changed',
    n_matches, admitted) — removed ids produce no ingest row.

    A changed document is re-admitted on its NEW text (its old
    content no longer exists to collide with); the corpus side is
    the new snapshot minus the delta, i.e. exactly the documents
    whose content survived the re-crawl unmodified — so admission
    never compares a doc against its own stale copy, and delta docs
    are not compared to each other (each is judged against the
    settled corpus, q76's batch semantics).

    Scale: the diff is one id-keyed full-outer join over in-row
    digests (churn-bounded output); admission is batch-vs-corpus
    (see ``incremental_neardup_admission``), and the corpus is never
    self-paired.
    """
    delta = snapshot_diff(old, new, id_col=id_col, text_col=text_col)
    ingest_ids = delta.filter(F.col("status") != "removed").select(
        F.col(id_col), "status"
    )
    batch = new.join(ingest_ids.select(id_col), id_col)
    retained = new.join(ingest_ids.select(id_col), id_col, "left_anti")
    adm = incremental_neardup_admission(
        batch,
        retained,
        text_col=text_col,
        id_col=id_col,
        verify_threshold=0.3,
    )
    return adm.join(ingest_ids, id_col).select(
        id_col, "status", "n_matches", "admitted"
    )

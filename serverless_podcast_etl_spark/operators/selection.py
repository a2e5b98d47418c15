"""Corpus selection operators: global budget selection and per-group
quota capping — the data-mixing/selection steps of a pretraining
pipeline (pick the best documents until a token budget is spent; cap
any one domain's share of the corpus).

Both are pure DataFrame compositions.  The budget selector needs a
GLOBAL running sum in a total order — the one window shape Spark's
``Window.orderBy`` (no partitionBy) gets wrong at scale by collapsing
to a single partition — so it is built as the classic two-pass
distributed prefix sum instead: range-partition on the order keys,
cumsum within each partition, then add per-partition offsets computed
from one bounded (rows = #partitions) driver-side pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing, literals
from ..functions.text import word_tokens
from .scale import ensure_parallelism, local_frame

# target-affinity features: hashed word 1- and 2-grams
TARGET_MAX_N = 2


def _global_prefix_sum_with_total(
    df: DataFrame,
    cost_col: str,
    order_cols: list[Column],
    out_col: str = "cum_cost",
) -> tuple[DataFrame, int]:
    """Implementation of ``global_prefix_sum`` (public wrapper below,
    which carries no extra behavior) — returns ``(result, grand
    total)`` because the bounded offsets pass computes the total as a
    by-product; callers needing W (``pps_systematic_sample``) take it
    from here instead of paying a full extra scan.

    Inclusive running sum of ``cost_col`` in the total order given
    by ``order_cols`` (which must be a TOTAL order — include a unique
    tiebreak key, or the result is nondeterministic), computed without
    ever collapsing the data to one partition:

    1. ``repartitionByRange`` on the order keys — partition i holds a
       contiguous key range, ranges ascend with the partition id per
       the requested sort direction;
    2. within-partition cumsum (``Window.partitionBy(partition_id)``
       — parallel across partitions);
    3. per-partition totals → prefix offsets, ONE bounded collect
       (rows = number of shuffle partitions, not data rows), offsets
       broadcast back and added.

    Costs are cast to LONG once, up front, and that cast column feeds
    BOTH the local cumsum window and the per-partition totals — a
    fractional ``cost_col`` therefore truncates identically in the two
    passes instead of diverging (window-sum-then-cast vs
    cast-then-sum).  The contract is integer costs (token counts,
    bytes); fractional inputs are truncated per row.

    The realized partitioning MUST be stable between the totals pass
    and the final join, or offsets could describe different partition
    boundaries than the local cumsums — so the sorted frame is pinned
    by an eager ``localCheckpoint`` (the range shuffle + sort run once,
    both passes read materialized partitions, and lineage truncation
    makes re-sampled range boundaries on a re-execution impossible).

    The range-partition count is ``spark.sql.shuffle.partitions``,
    which AQE may coalesce at small volume.

    Driver-side bounds: the ``totals`` collect and the rebuilt offsets
    relation are one row PER PARTITION, not per data row — at an
    extreme 100k-partition cluster sweep that is a ~100k-row local
    relation broadcast per call.
    """
    ranged = df.repartitionByRange(*order_cols).sortWithinPartitions(
        *order_cols
    )
    part = (
        ranged.withColumn("_pid", F.spark_partition_id())
        .withColumn("_cost_l", F.col(cost_col).cast("long"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    local = part.withColumn("_local_cum", F.sum("_cost_l").over(w))
    # bounded driver pass: one row per partition
    totals = part.groupBy("_pid").agg(
        F.sum("_cost_l").alias("_t")
    ).collect()
    offsets, acc = [], 0
    for r in sorted(totals, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], acc))
        # an all-null-cost partition totals to NULL; it contributes 0
        acc += r["_t"] or 0
    off = local_frame(df.sparkSession, offsets, "_pid int, _off long")
    result = (
        local.join(F.broadcast(off), "_pid")
        .withColumn(out_col, (F.col("_local_cum") + F.col("_off")))
        .drop("_pid", "_local_cum", "_cost_l")
    )
    # the offsets pass already summed every partition: acc is the
    # grand total, free to callers who need it (pps sampling's W) —
    # recovering it later via agg(max(cum)) would cost a FULL extra
    # scan of the materialized sort at corpus scale
    return result, acc


def global_prefix_sum(
    df: DataFrame,
    cost_col: str,
    order_cols: list[Column],
    out_col: str = "cum_cost",
) -> DataFrame:
    """Inclusive distributed running sum — the public form.  Full
    contract and scale shape: see ``_global_prefix_sum_with_total``
    directly above (this wrapper only drops the grand-total by-product
    from the return)."""
    df2, _total = _global_prefix_sum_with_total(
        df, cost_col, order_cols, out_col=out_col
    )
    return df2


def select_under_budget(
    df: DataFrame,
    cost_col: str,
    order_cols: list[Column],
    budget: int,
    cum_col: str = "cum_cost",
) -> DataFrame:
    """Greedy selection under a global budget: rank rows by
    ``order_cols`` (best first; must include a unique tiebreak) and
    keep rows while the running ``cost_col`` total stays ≤ ``budget``
    — the token-budget data-selection step (take the highest-quality
    documents until the training budget is spent).

    Exact and deterministic: the digest of a selection decision is the
    prefix sum, not an RNG, so the same corpus + budget always yields
    the same set and the operator is oracle-checkable against a SQL
    running-sum window.
    """
    cum = global_prefix_sum(df, cost_col, order_cols, out_col=cum_col)
    return cum.filter(F.col(cum_col) <= F.lit(budget))


def digest_sample(
    df: DataFrame,
    id_col: str,
    n: int,
    seed: str = "seed0",
) -> DataFrame:
    """Deterministic exact-N sample: rank rows by ``md5(seed || ':' ||
    id)`` and keep the first ``n`` — the digest-over-RNG counterpart of
    ``sampleBy`` (q52) for when a sample must be REPRODUCIBLE across
    runs, engines and partitionings (ablation sets, eval slices).
    Distinct ids ⇒ distinct digests ⇒ a total order, so the sample is
    unique; a different seed is a fresh independent draw.

    Scale: ``orderBy(...).limit(n)`` plans as TakeOrderedAndProject —
    each partition keeps its local top-n and a single reduce merges
    them; memory is O(n · partitions) at the driver-side merge and the
    corpus is never globally sorted or shuffled.
    """
    key = F.md5(
        F.encode(
            F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")),
            "utf-8",
        )
    )
    return (
        df.withColumn("sample_key", key)
        .orderBy("sample_key")
        .limit(n)
    )


def _digest_bound(fraction: float) -> str:
    """Exclusive upper bound on a 6-hex-char digest prefix keeping the
    given fraction of the uniform 16^6 space.  ``fraction >= 1.0`` maps
    to ``"g"`` — one char, lexicographically above every hex string —
    so the full-keep case is an always-true compare rather than a
    7-char bound that a 6-char prefix can never exceed."""
    if fraction >= 1.0:
        return "g"
    return format(max(0, int(fraction * 16**6)), "06x")


def stratified_digest_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    id_col: str,
    seed: str = "seed0",
) -> DataFrame:
    """Deterministic stratified sampling: keep a row when the first 6
    hex chars of ``md5(seed:stratum:id)`` fall below the stratum's
    fraction of the 16^6 hex space — the exact-apply counterpart of
    the mixture weights (q59) and the digest upgrade of ``sampleBy``
    (q52): reproducible across runs/engines/partitionings, and
    therefore oracle-checkable, where an RNG draw is rows-only.

    Strata absent from ``fractions`` are DROPPED (fraction 0) — the
    corpus-rebalancing contract where every kept stratum is listed.
    Fractions are clamped to [0, 1]: ``f >= 1.0`` keeps the WHOLE
    stratum (bound ``"g"``, which sorts above every hex digest — the
    naive ``int(f * 16**6)`` bound would be the 7-char ``"1000000"``,
    and a lexicographic compare against a 6-char digest prefix would
    silently keep only digests starting with ``'0'``); ``f <= 0``
    keeps none.  Per-row in-row predicate: no shuffle, no state; the
    expected kept fraction per stratum converges to its target by the
    uniformity of the digest.
    """
    bounds = {s: _digest_bound(f) for s, f in fractions.items()}
    digest = F.md5(
        F.encode(
            F.concat(
                F.lit(seed), F.lit(":"), F.col(stratum_col).cast("string"),
                F.lit(":"), F.col(id_col).cast("string"),
            ),
            "utf-8",
        )
    )
    bound = None
    for s, b in sorted(bounds.items()):
        bound = (F.when if bound is None else bound.when)(
            F.col(stratum_col) == s, F.lit(b)
        )
    bound = (bound.otherwise(F.lit("000000")) if bound is not None
             else F.lit("000000"))
    return df.filter(F.substring(digest, 1, 6) < bound)


def pps_systematic_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: str = "pps",
    offset_seed: int = 0,
) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling: draw
    exactly ``k`` picks (with multiplicity) where each row's expected
    pick count is exactly ``k·w/W`` — the weighted sampler a mixture
    builder needs at scale ("sample 10M documents proportional to
    token count from 10B") with none of the transcendental-float
    hazards of exponential-key (Efraimidis–Spirakis) sampling: every
    quantity here is exact BIGINT arithmetic, so the operator is
    hash-exact against a SQL twin (NOTES fact 12 — ``ln``/``pow``
    differ in the last ulp across engines and are kept out).

    Construction: rows are laid on a weight line in the deterministic
    ``md5(seed:id)`` order (the q84 shuffle order — systematic strides
    over the RAW corpus order would correlate with source/time
    clustering; the digest order is exchangeable), then ``k`` evenly
    spaced points ``(t·W + o)/k``, t = 0..k−1, ``o = offset_seed mod
    W``, are dropped on the line.  A row covering ``[s, e)`` on the
    line is picked once per point inside its interval:

        n_picks = ⌊(k·e − o − 1 + W)/W⌋ − ⌊(k·s − o − 1 + W)/W⌋

    (the ``+W`` shift keeps both numerators non-negative so integer
    division equals floor in BOTH engines; the two extra +1's cancel
    in the difference).  Σ n_picks = k exactly, rows with
    ``w ≥ W/k`` can be picked more than once (standard PPS-with-
    replacement semantics — resolve multiplicity downstream or cap
    weights first), and rows with non-positive weight carry no mass
    and are dropped.

    Scale shape: the weight line is the existing two-pass distributed
    ``global_prefix_sum`` (range partition on the digest order, NO
    single-partition window); ``W`` falls out of its bounded
    per-partition offsets pass for FREE (no extra scan of the
    materialized sort); pick counting is in-row arithmetic.  BIGINT
    bound: ``k·W`` must stay below 2^63 — at a 10^13-token corpus
    that allows k up to ~10^5; beyond that widen the marked products
    to decimal(38,0).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if offset_seed < 0:
        raise ValueError("offset_seed must be >= 0")
    key = F.md5(
        F.encode(
            F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")),
            "utf-8",
        )
    )
    w = (
        df.select(F.col(id_col), F.col(weight_col).cast("long").alias("_w"))
        .filter(F.col("_w") > 0)
        .withColumn("_key", key)
    )
    cum, total = _global_prefix_sum_with_total(
        w, "_w", [F.col("_key"), F.col(id_col)], out_col="_cum"
    )
    if not total:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
                "weight long, n_picks long"
        )
    o = offset_seed % total
    # k·e and k·s are the marked BIGINT products (see docstring bound)
    n_e = f"({k} * _cum - {o} - 1 + {total})"
    n_s = f"({k} * (_cum - _w) - {o} - 1 + {total})"
    picks = F.expr(f"({n_e} div {total}) - ({n_s} div {total})")
    return (
        cum.withColumn("_picks", picks)
        .filter(F.col("_picks") > 0)
        .select(
            F.col(id_col),
            F.col("_w").alias("weight"),
            F.col("_picks").cast("long").alias("n_picks"),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column],
    n: int,
    rank_col: str = "rank_in_group",
) -> DataFrame:
    """Per-group quota cap: keep at most ``n`` rows per group, best
    first by ``order_cols`` (unique tiebreak required for determinism)
    — the domain-capping pass (no single source may dominate the
    corpus mixture).

    One shuffle on the group key; the rank window is partitioned per
    group so it parallelizes across groups (the skew concern at 100 TB
    is a single giant domain — AQE's skew-join handling doesn't apply
    to windows, so a pathological domain bounds one task; the cap
    itself keeps the OUTPUT bounded regardless).
    """
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= F.lit(n))
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    seed: str = "seed0",
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic global training order + shard assignment: every
    row gets a 1-based ``global_idx`` in the total order of
    ``md5(seed:id)`` (a seeded, reproducible corpus shuffle — change
    the seed, get an independent permutation; same seed, same order on
    any cluster), then round-robin sharding —
    ``shard = (idx-1) % n_shards``, ``pos = (idx-1) // n_shards`` —
    so shard sizes are balanced to within one row by construction.

    This is the data-ordering step of a training pipeline: the corpus
    is "shuffled" without any RNG state, epochs are reproducible, and
    resharding is a pure recomputation.

    The global row number is NOT a ``Window.orderBy`` (which collapses
    to one partition) — it composes ``global_prefix_sum`` over a
    constant cost of 1: range-partition on the digest, per-partition
    cumsum, bounded one-row-per-partition offset pass.  Scale cost is
    one range shuffle of (id, digest) pairs — the payload never moves
    until the caller joins the assignment back.
    """
    keyed = df.select(
        F.col(id_col),
        F.md5(
            F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
        ).alias("_sk"),
        F.lit(1).alias("_one"),
    )
    ordered = global_prefix_sum(
        keyed,
        cost_col="_one",
        order_cols=[F.col("_sk").asc(), F.col(id_col).asc()],
        out_col="global_idx",
    )
    return ordered.select(
        F.col(id_col),
        F.col("global_idx").cast("long").alias("global_idx"),
        ((F.col("global_idx") - 1) % n_shards).cast("int").alias("shard"),
        ((F.col("global_idx") - 1) / n_shards).cast("long").alias("pos_in_shard"),
    )


def materialize_mixture(
    df: DataFrame,
    source_col: str,
    id_col: str,
    factors: dict[str, float],
    seed: str = "seed0",
) -> DataFrame:
    """Materialize a source-weighted mixture: emit each document
    ``factor`` times, where ``factors`` maps a source to its sampling
    factor — >1 upsamples (epoch repetition of a high-value source), <1
    downsamples, 0/absent drops.  This is the APPLY step of data
    mixing: q59 computes target weights, this operator realizes them
    as a concrete corpus with a ``copy_idx`` per repetition.

    Fractional factors are resolved deterministically per document,
    not by RNG: a doc gets ``floor(f)`` copies plus one more iff the
    first 6 hex chars of ``md5(seed:source:id)`` fall below the
    fractional part's share of the 16^6 digest space — the same
    digest-threshold convention as ``stratified_digest_sample``, so
    f = 2.25 repeats every doc twice and a reproducible quarter of
    them a third time, identical across runs, engines and
    partitionings (and therefore oracle-checkable).

    Scale: the factor table is a handful of plan literals (or a
    broadcast join if sources number millions); copy counts are an
    in-row expression and the repetition is ``explode(sequence(...))``
    — no shuffle anywhere, output size = Σ n_s · f_s by construction.
    Rows with zero copies are filtered BEFORE the explode because
    ``sequence(1, 0)`` descends rather than yielding empty.
    """
    n_copies = None
    for s, f in sorted(factors.items()):
        f = max(0.0, float(f))
        whole, frac = int(f), f - int(f)
        extra = (
            F.lit(0)
            if frac <= 0.0
            else (
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(seed),
                            F.col(source_col).cast("string"),
                            F.col(id_col).cast("string"),
                        )
                    ),
                    1,
                    6,
                )
                < F.lit(_digest_bound(frac))
            ).cast("int")
        )
        branch = F.lit(whole) + extra
        n_copies = (F.when if n_copies is None else n_copies.when)(
            F.col(source_col) == s, branch
        )
    n_copies = (
        n_copies.otherwise(F.lit(0)) if n_copies is not None else F.lit(0)
    )
    with_n = df.withColumn("_n_copies", n_copies).filter(
        F.col("_n_copies") >= 1
    )
    return with_n.select(
        "*",
        F.explode(F.sequence(F.lit(1), F.col("_n_copies"))).alias("copy_idx"),
    ).drop("_n_copies")


def top_share_per_group(
    df: DataFrame,
    group_col: str,
    cost_col: str,
    order_cols: list[Column],
    share: float,
    cum_col: str = "cum_cost",
    total_col: str = "group_total",
) -> DataFrame:
    """Per-group cumulative-share selection: within each group, rank
    rows by ``order_cols`` (best first; must include a unique
    tiebreak) and keep rows while the running ``cost_col`` total stays
    within ``share`` of the group's total — "the best documents
    covering half of every source's tokens", the coverage-target
    counterpart of ``cap_per_group`` (fixed N per group) and
    ``select_under_budget`` (one global budget).

    Keeps ``cum_col`` (running within-group cost) and ``total_col``
    (the group's full cost) so callers can see how close each kept
    row sits to the cut.  A group whose FIRST row already exceeds the
    share keeps nothing from that group — the contract is a hard
    ceiling, not at-least-one; pair with a ``cap_per_group`` floor if
    every group must be represented.

    Scale: both windows partition by ``group_col`` — one shuffle on
    the group key, then parallel across groups; no global window, no
    driver pass.  Skew lives in the largest group's partition, the
    same bound as any per-group operator.
    """
    w_run = Window.partitionBy(group_col).orderBy(*order_cols)
    w_all = Window.partitionBy(group_col)
    costs = F.col(cost_col).cast("long")
    return (
        df.withColumn(cum_col, F.sum(costs).over(w_run))
        .withColumn(total_col, F.sum(costs).over(w_all))
        .filter(F.col(cum_col) <= F.lit(share) * F.col(total_col))
    )


def quantile_bins(
    df: DataFrame,
    score_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Bin rows by score quantiles: bucket 0 holds scores at or
    below the ``probs[0]`` quantile, the last bucket everything above
    ``probs[-1]`` — the curriculum-binning step (order a corpus
    easy→hard by quality quartile, then ``deterministic_shuffle``
    within each bin) and the exact counterpart of the
    ``percentile_approx`` profile (q41).

    Two passes: one percentile aggregate computes the boundaries
    (a bounded driver collect of ``len(probs)`` doubles — same class
    of bound as the prefix-sum offsets), then assignment is one
    in-row CASE over broadcast literals — the corpus is never
    shuffled.  Spark's ``percentile`` and DuckDB's ``quantile_cont``
    share the type-7 linear interpolation bit-for-bit (verified in
    the q92 oracle), so the bins are engine-portable.  Null scores
    get a null bucket.

    Scale limit: Spark's exact ``percentile`` buffers a per-partition
    map of DISTINCT values — on a continuous double score over a
    100 TB corpus that map is ~one entry per row, an executor-memory
    cliff (the same hazard class the ``embedding_neardup_pairs``
    ``exact_max_rows`` guard fences).  The score should have bounded
    distinct cardinality (grades, integer scores, rounded ratios) or
    the corpus be sample-scale.
    """
    # one literal round-trip for the whole probability list (the
    # F.array(*[F.lit...]) form is a per-element py4j storm — NOTES
    # fact 26; same doubles bit-for-bit)
    probs_arr = literals.double_array(sorted(float(p) for p in probs))
    bounds = df.agg(F.percentile(F.col(score_col), probs_arr)).first()[0]
    if bounds is None:
        # empty input or all-null scores: no boundaries exist — every
        # row (necessarily null-scored) gets a null bucket
        return df.withColumn("bucket", F.lit(None).cast("int"))
    case = F.when(F.col(score_col).isNull(), F.lit(None))
    for i, b in enumerate(bounds):
        case = case.when(F.col(score_col) <= F.lit(b), F.lit(i))
    case = case.otherwise(F.lit(len(bounds)))
    return df.withColumn("bucket", case.cast("int"))


def _token_hash_frame(
    raw: DataFrame,
    text_col: str,
    id_col: str | None = None,
    target_predicate: Column | None = None,
) -> DataFrame:
    """``([id_col,][_t,] _th array<long>)`` — the tokenize→md5 pass
    materialized behind a Generate barrier (``explode(array(...))``,
    the ``dedup._once`` idiom) so downstream gram folds read a BOUND
    column.  opt-r15: the previous unbound form re-evaluated the md5
    transform once per reference — ``concat(th, zip_with(slice(th,…),
    slice(th,…)))`` is three evaluations per row at max_n=2 (HOFs are
    interpreted, no codegen subexpression elimination; NOTES facts
    1/16) — measured 0.46 → 0.31 s on the q100 gram scan at sf0.1.
    Also fans a split-starved input out across cores (guide §2.5)."""
    from ..functions.text import word_tokens_spark_sql

    cols: list[Column] = []
    if id_col is not None:
        cols.append(F.col(id_col))
    if target_predicate is not None:
        cols.append(target_predicate.alias("_t"))
    th = F.expr(
        hashing.token_hashes_spark_sql(word_tokens_spark_sql(text_col))
    )
    cols.append(F.explode(F.array(th)).alias("_th"))
    return ensure_parallelism(raw).select(*cols)


def _gram_buckets_from_th(num_buckets: int, max_n: int) -> Column:
    """array<long> of hashed word-n-gram feature buckets (all n in
    1..max_n concatenated) over a bound ``_th`` token-hash column
    (``_token_hash_frame``): polynomial shingle folds → ``%
    num_buckets``.  Token hashes land in [0, 2^32), so plain ``%`` is
    non-negative in Spark and DuckDB alike.  One ``F.expr``
    round-trip; same fold, same values as the r14 per-node form."""
    sql = "_th"
    for n in range(2, max_n + 1):
        sql = f"concat({sql}, {hashing.shingle_hash_array_spark_sql('_th', n)})"
    return F.expr(f"transform({sql}, h -> h % {int(num_buckets)})")


def _materialize_grams(
    raw: DataFrame,
    text_col: str,
    id_col: str,
    num_buckets: int,
    max_n: int,
    target_predicate: Column | None = None,
) -> DataFrame:
    """``(id_col[, _t], _b array<long>)`` with the tokenize→md5→fold
    hashing scan run ONCE and ``localCheckpoint(eager=True)``'d at its
    fan-out (NOTES fact 18): the fit, the score pass, and the audit's
    bucket-set passes all read the materialized rows instead of each
    re-paying the corpus hashing scan — which dominates this family's
    cost (the hash scan measured ~4× the post-hash aggregation at
    bench scale).  Array form (one row per doc, grams colocated), so
    both the explode consumers and the gram-ORDERED log-ratio fold can
    read it.  The checkpoint makes the caller batch-only and trades a
    corpus-linear intermediate (id + int array, typically smaller than
    the text it replaces) for the repeated scans.

    Fault-tolerance/pushdown contract as dedup.py's module note
    (ADVICE r12): the eager checkpoint runs a job at construction
    time, its blocks are unrecoverable on executor loss (not a
    reliable checkpoint), and no downstream pruning reaches past it
    into the text scan — pre-filter the input instead."""
    # the tokenize→md5→fold scan is CPU-bound per row: fan a
    # split-starved input out across cores before paying it (no-op on
    # many-file inputs — operators/scale.py; measured 2.4-2.9 s
    # single-task → ~0.3 s at bench scale for q100/q101).  The token
    # hashes bind behind a Generate barrier first so the gram folds
    # evaluate md5 ONCE per row (opt-r15; see _token_hash_frame).
    pre = _token_hash_frame(raw, text_col, id_col, target_predicate)
    cols = [F.col(id_col)]
    if target_predicate is not None:
        cols.append(F.col("_t"))
    cols.append(_gram_buckets_from_th(num_buckets, max_n).alias("_b"))
    return pre.select(*cols).localCheckpoint(eager=True)


def _bucket_weights(
    df: DataFrame | None,
    text_col: str,
    num_buckets: int,
    max_n: int,
    grams: DataFrame | None = None,
) -> tuple[list[int], int]:
    """Add-1-smoothed feature counts for one corpus: ``weights[b] =
    count_b + 1`` (length ``num_buckets``) and the smoothed total
    ``Σ count + num_buckets``.  One explode → hash-agg pass whose
    shuffle carries at most ``num_buckets`` rows per partition
    (map-side partial aggregation collapses the exploded grams), then
    one BOUNDED collect — rows ≤ num_buckets by construction, the
    same driver-side-bounds class as ``global_prefix_sum``'s offsets.
    ``grams`` (a ``_materialize_grams`` frame) replaces the hashing
    scan with a read of the already-materialized buckets.  The
    no-grams path fans a split-starved input out before paying the
    tokenize→md5→fold scan (opt-r15, the r14 floor applied to the
    separate-target fit — guide §2.5; per-bucket
    counts are order-free integer aggregations, so the round-robin
    cannot move a bit)."""
    if grams is not None:
        src = grams.select(F.explode("_b").alias("_b"))
    else:
        src = _token_hash_frame(df, text_col).select(
            F.explode(
                _gram_buckets_from_th(num_buckets, max_n)
            ).alias("_b")
        )
    counts = (
        src.groupBy("_b").agg(F.count(F.lit(1)).alias("_c")).collect()
    )
    weights = [1] * num_buckets
    total = num_buckets
    for r in counts:
        weights[r["_b"]] += r["_c"]
        total += r["_c"]
    return weights, total


def _bucket_weights_joint(
    grams: DataFrame, num_buckets: int
) -> tuple[list[int], int, list[int], int]:
    """Both corpora's smoothed feature counts from ONE pass, for the
    common case where the target is a predicate-defined SUBSET of the
    raw corpus (curated language/domain/quality slice): one read of
    the materialized ``grams`` frame (which must carry the ``_t``
    flag), one ≤num_buckets-row shuffle, one bounded collect — a raw
    ``count(*)`` plus a conditional target count per bucket — instead
    of hashing the corpus twice for two fits."""
    src = grams.select("_t", F.explode("_b").alias("_b"))
    counts = (
        src.groupBy("_b")
        .agg(
            F.count(F.lit(1)).alias("_cr"),
            F.count_if(F.col("_t")).alias("_ct"),
        )
        .collect()
    )
    wt, wr = [1] * num_buckets, [1] * num_buckets
    tt = tr = num_buckets
    for r in counts:
        wr[r["_b"]] += r["_cr"]
        tr += r["_cr"]
        wt[r["_b"]] += r["_ct"]
        tt += r["_ct"]
    return wt, tt, wr, tr


def _weights_relation(
    spark, wt: list[int], wr: list[int]
) -> DataFrame:
    """The two fitted weight tables as ONE broadcastable relation
    ``(_b, _wt, _wr)`` — ≤``num_buckets`` rows (a few KB), the join
    side of the codegen score pass below.  Built JVM-side
    (``range`` + one-literal weight arrays) instead of
    ``createDataFrame``: a Python-local frame spreads its rows over
    default-parallelism PYTHON partitions and pays a worker launch
    per partition on the broadcast build (NOTES fact 23); this form
    never touches a Python worker and the rows are identical."""
    if len(wt) != len(wr):
        # a length mismatch must fail HERE, driver-side — element_at
        # past the shorter array would otherwise surface as a runtime
        # out-of-bounds (ANSI) or silent NULL weights in the join
        # (opt-r14 ADVICE #3)
        raise ValueError(
            f"_weights_relation: weight tables differ in length "
            f"({len(wt)} vs {len(wr)})"
        )
    wts = literals.long_array(wt)
    wrs = literals.long_array(wr)
    idx = (F.col("id") + 1).cast("int")
    return spark.range(len(wt)).select(
        F.col("id").alias("_b"),
        F.element_at(wts, idx).alias("_wt"),
        F.element_at(wrs, idx).alias("_wr"),
    )


def _score_difference(
    exploded: DataFrame,
    id_col: str,
    wdf: DataFrame,
    tt: int,
    tr: int,
) -> DataFrame:
    """The rational-difference score pass as WHOLE-STAGE-CODEGEN
    relational ops: broadcast-hash-join each exploded gram against the
    ≤num_buckets-row weight relation, then groupBy(id) with exact
    integer sums.  Replaces the original per-gram ``F.aggregate`` fold
    — higher-order functions are interpreted (NOTES fact 16) and the
    fold measured ~5× the join+agg cost on the q100 bench shape.
    Integer sums are order-free, so hash-agg reordering cannot move a
    bit (the float-accumulating log-ratio form must keep the ordered
    fold instead).  Every gram's bucket exists in the weight relation
    (the fit counted these same grams, and smoothing fills the rest),
    so the inner join drops nothing; docs with zero grams emit no
    exploded row and hence no output row — the documented no-evidence
    contract.  Scale shape: the join side is broadcast; the groupBy's
    shuffle carries one partial-agg row per doc per partition (a doc's
    grams are colocated by explode), so 100 TB of text folds to a
    doc-count-bounded exchange."""
    return (
        exploded.join(F.broadcast(wdf), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("_wt").alias("_a"),
            F.sum("_wr").alias("_bsum"),
        )
        .select(
            id_col,
            "n_grams",
            F.round(
                (
                    F.col("_a").cast("double") / F.lit(float(tt))
                    - F.col("_bsum").cast("double") / F.lit(float(tr))
                )
                * F.lit(1_000_000.0)
                / F.col("n_grams").cast("double"),
                6,
            ).alias("score"),
        )
    )


def target_affinity_scores(
    raw: DataFrame,
    target: DataFrame | None,
    text_col: str,
    id_col: str,
    num_buckets: int = 1024,
    target_predicate: Column | None = None,
    weight_form: str = "difference",
) -> DataFrame:
    """Per-document target-distribution affinity over hashed n-gram
    features — the data-selection step of a pretraining pipeline
    (select raw web documents that look like a small trusted target
    corpus), after DSIR (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023): fit hashed
    n-gram feature distributions on TARGET and RAW, then score every
    raw document by how much its features favor the target.

    Deviation from the paper, deliberately: DSIR's per-feature weight
    is the LOG ratio ``log p_t(f) − log p_r(f)``; this operator uses
    the rational DIFFERENCE ``p_t(f) − p_r(f)``, so the per-document
    score

        score = 1e6 · (A/T_t − B/T_r) / n_grams,
        A = Σ_grams (target_count[bucket]+1),  T_t = Σ count + K
        B = Σ_grams (raw_count[bucket]+1),     T_r = Σ count + K

    accumulates as EXACT INTEGERS (A, B, n_grams) with float entering
    only through two correctly-rounded IEEE divisions, one subtract,
    one multiply, one divide per document — bit-identical in any
    engine, hence DuckDB-oracle-hashable, where a log-space sum
    diverges in the last ulp across runtimes (NOTES fact 12).
    ``weight_form="log_ratio"`` gives the paper's exact weights
    instead (score = mean of ``log p_t(b) − log p_r(b)`` over the
    doc's grams, the per-gram log importance weight) — use it where
    cross-engine hashing is not a requirement; it is deterministic
    WITHIN Spark (the per-bucket weight is precomputed once,
    driver-side, and the in-row fold always accumulates in the doc's
    gram order), just not last-ulp-portable ACROSS engines.  Rank
    order is monotone in the per-gram evidence either way; the
    difference form weighs common features more and rare features
    less than the log form.

    Fit shapes — two, picked by how the target is given:

    - ``target_predicate`` (a boolean Column over ``raw``'s rows, the
      common curated-subset case — a language/domain/quality slice):
      ONE hashing pass over raw with a conditional per-bucket target
      count.  ``target`` is ignored (pass ``None``).
    - ``target`` as a separate frame (disjoint curated corpus): one
      fit pass per corpus.

    Either way each fit is a ≤``num_buckets``-row shuffle + one
    bounded collect.  Raw's hashing scan runs ONCE,
    ``localCheckpoint``ed at its fan-out (NOTES fact 18 — the
    tokenize→md5 scan measured ~4× everything downstream of it, and
    fit + score both consume it), so the whole operator hashes the
    corpus exactly once at the cost of a corpus-linear
    ``(id, int-array)`` intermediate — typically SMALLER than the
    text it stands in for, and the checkpoint makes the call
    batch-only.

    The difference-form score pass is whole-stage-codegen relational
    ops (``_score_difference``): each doc's grams broadcast-join the
    ≤num_buckets-row weight relation and fold to one row per doc via
    exact integer sums — order-free, so hash-agg reordering cannot
    move a bit.  Scoring 100 TB is therefore one read of the
    materialized grams + a doc-count-bounded exchange; the
    log-ratio form keeps the gram-ordered in-row fold instead, since
    its float accumulation is order-sensitive.  Token-less documents
    emit no row (no evidence — same domain contract as
    ``minhash_signatures``).  Overflow: A ≤ n_grams · (T_t+1) must
    stay under 2^63 — with a billion-gram target corpus that caps
    documents at ~9e9 grams, far beyond any real document.

    Returns (id_col, n_grams, score) with ``score`` rounded to 6 dp
    (ranking therefore ties only at genuinely equal rounded evidence;
    break ties on ``id_col`` downstream).
    """
    if weight_form not in ("difference", "log_ratio"):
        raise ValueError(
            f"weight_form must be 'difference' or 'log_ratio', "
            f"got {weight_form!r}"
        )
    if target is None and target_predicate is None:
        raise ValueError("pass a target frame or a target_predicate")
    grams = _materialize_grams(
        raw, text_col, id_col, num_buckets, TARGET_MAX_N, target_predicate
    )
    return _affinity_scores_impl(
        raw, target, text_col, id_col, num_buckets, TARGET_MAX_N,
        target_predicate, weight_form, grams,
    )


def _affinity_scores_impl(
    raw: DataFrame,
    target: DataFrame | None,
    text_col: str,
    id_col: str,
    num_buckets: int,
    max_n: int,
    target_predicate: Column | None,
    weight_form: str,
    grams: DataFrame,
) -> DataFrame:
    """``target_affinity_scores`` body with the materialized gram frame
    passed in, so ``target_coverage_audit`` can share ONE checkpointed
    hashing scan across the fit, the score pass, and its own
    bucket-coverage passes."""
    if target_predicate is not None:
        wt, tt, wr, tr = _bucket_weights_joint(grams, num_buckets)
    else:
        wt, tt = _bucket_weights(target, text_col, num_buckets, max_n)
        wr, tr = _bucket_weights(
            raw, text_col, num_buckets, max_n, grams=grams
        )
    arrays = grams.select(id_col, "_b")
    if weight_form == "log_ratio":
        # DSIR's exact per-feature weight, precomputed driver-side:
        # w[b] = log p_t(b) − log p_r(b) with the same add-1
        # smoothing; the score is the mean weight over the doc's
        # grams.  One double fold per doc, in gram order — float
        # accumulation is order-sensitive, so this form keeps the
        # in-row fold rather than _score_difference's hash-agg.
        import math

        w = [
            math.log(wt[b] / tt) - math.log(wr[b] / tr)
            for b in range(num_buckets)
        ]
        # one literal round-trip for the whole weight table —
        # F.lit(list) desugars to a per-element py4j storm
        # (functions/literals.py; same doubles bit-for-bit)
        w_lit = literals.double_array(w)
        logfold = F.aggregate(
            "_b",
            F.lit(0.0),
            lambda acc, b: acc + F.element_at(w_lit, b.cast("int") + 1),
        )
        return (
            arrays.filter(F.size("_b") > 0)
            .select(
                id_col,
                F.size("_b").cast("long").alias("n_grams"),
                logfold.alias("_s"),
            )
            .select(
                id_col,
                "n_grams",
                F.round(
                    F.col("_s") / F.col("n_grams").cast("double"), 6
                ).alias("score"),
            )
        )
    wdf = _weights_relation(raw.sparkSession, wt, wr)
    return _score_difference(
        arrays.select(id_col, F.explode("_b").alias("_b")),
        id_col,
        wdf,
        tt,
        tr,
    )


def target_coverage_audit(
    raw: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    target_predicate: Column,
    num_buckets: int = 1024,
    selection_ids: DataFrame | None = None,
) -> DataFrame:
    """Selection-quality audit for ``select_by_target_affinity``: of
    the TARGET distribution's (``raw.filter(target_predicate)``)
    distinct hashed n-gram feature buckets, what fraction does a
    size-``k`` selection cover?  Reported for the
    affinity top-k AND for a same-size deterministic digest sample
    (``digest_sample`` — the uniform baseline), so the number answers
    the question a curation run actually asks: did targeted selection
    buy feature coverage over sampling blindly?  (DSIR-style selection
    is justified exactly when it does — Xie et al. NeurIPS 2023 §5
    evaluates selections against random-sampling baselines the same
    way.)

    ``selection_ids`` (a frame whose ``id_col`` holds the already-
    selected ids) skips the internal affinity re-fit and audits THAT
    selection instead — the form for pipelines that just ran
    ``select_by_target_affinity`` and hold the result (re-fitting
    re-pays the corpus hashing scan); the self-contained form
    re-derives the top-k so the audit is one call from cold.

    Output: one row per method (``affinity``, ``digest``) with
    ``covered_buckets``, ``target_buckets`` and ``coverage_pct``
    (covered/target, 6 dp), ordered by method.  Same feature space as
    ``target_affinity_scores`` (md5 token hashes → polynomial n-gram
    folds → ``% num_buckets``), so the audit measures the same
    features the selector optimizes.

    Scale shape: in the self-contained form one ``localCheckpoint``'d
    hashing scan (``_materialize_grams``, NOTES fact 18) feeds
    EVERYTHING — the affinity fit, the score pass, the target bucket
    set, and both coverage passes — so the corpus is tokenized and
    md5-hashed exactly once.  The target's bucket set is
    ≤``num_buckets`` rows after one distinct (materialized once —
    both methods read it); each selection is k rows; each coverage
    pass broadcasts the k selected ids into a semi-join (the corpus
    is never shuffled) folding into a ≤``num_buckets``-row distinct.
    With ``selection_ids`` the full corpus is NOT materialized — only
    the target and the k selected docs are hashed at all, which is
    strictly cheaper.  Driver memory is O(k + num_buckets); nothing
    here is quadratic.
    """
    grams = (
        _materialize_grams(
            raw, text_col, id_col, num_buckets, TARGET_MAX_N, target_predicate
        )
        if selection_ids is None
        else None
    )

    # ≤num_buckets rows; materialized once so the two method branches
    # don't each re-derive the target's bucket set
    if grams is not None:
        tb_src = grams.filter("_t").select(
            F.explode("_b").alias("b")
        )
    else:
        tb_src = _token_hash_frame(
            raw.filter(target_predicate), text_col
        ).select(
            F.explode(
                _gram_buckets_from_th(num_buckets, TARGET_MAX_N)
            ).alias("b")
        )
    tb = tb_src.distinct().localCheckpoint(eager=True)

    if selection_ids is not None:
        sel_aff = selection_ids.select(id_col)
    else:
        sel_aff = (
            _affinity_scores_impl(
                raw, None, text_col, id_col, num_buckets, TARGET_MAX_N,
                target_predicate, "difference", grams,
            )
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k)
            .select(id_col)
        )
    sel_dig = digest_sample(raw.select(id_col), id_col, n=k).select(id_col)

    def _coverage_row(sel: DataFrame, method: str) -> DataFrame:
        if grams is not None:
            cov_src = grams.join(
                F.broadcast(sel), id_col, "left_semi"
            ).select(F.explode("_b").alias("b"))
        else:
            cov_src = _token_hash_frame(
                raw.join(F.broadcast(sel), id_col, "left_semi"), text_col
            ).select(
                F.explode(
                    _gram_buckets_from_th(num_buckets, TARGET_MAX_N)
                ).alias("b")
            )
        covered = cov_src.distinct().withColumn("_hit", F.lit(1))
        return (
            tb.join(F.broadcast(covered), "b", "left")
            .agg(
                F.count("_hit").cast("long").alias("covered_buckets"),
                F.count(F.lit(1)).cast("long").alias("target_buckets"),
            )
            .select(
                F.lit(method).alias("method"),
                "covered_buckets",
                "target_buckets",
                F.round(
                    F.try_divide(
                        F.col("covered_buckets").cast("double"),
                        F.col("target_buckets"),
                    ),
                    6,
                ).alias("coverage_pct"),
            )
        )

    return (
        _coverage_row(sel_aff, "affinity")
        .unionByName(_coverage_row(sel_dig, "digest"))
        .orderBy("method")
    )


def select_by_target_affinity(
    raw: DataFrame,
    target: DataFrame | None,
    text_col: str,
    id_col: str,
    k: int,
    target_predicate: Column | None = None,
) -> DataFrame:
    """Top-``k`` raw documents by target affinity (score DESC, then
    ``id_col`` ASC — the rounded score makes the order, and therefore
    the selected set, deterministic cross-engine).  orderBy + limit
    compiles to TakeOrdered: per-partition top-k then a k-row merge,
    never a global sort materialization."""
    scores = target_affinity_scores(
        raw, target, text_col, id_col, target_predicate=target_predicate
    )
    return scores.orderBy(
        F.col("score").desc(), F.col(id_col)
    ).limit(k)

"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed
(random-hyperplane) variant as the scale path: at 100 TB the
brute-force candidate set is |queries|×|corpus|; hyperplane bucketing
cuts it to |queries|×|bucket| with an equi-join on the bucket key —
the same candidate-generation shape as MinHash banding.

Vector math is two-tier: pairwise expressions (one dot/norm per row
pair) stay JVM-side via higher-order functions (``zip_with`` dot
products, ``aggregate`` norms); one-vector-against-many-constants
kernels (LSH table hashing, IVF centroid distances — both are
row-batch × constant-matrix matmuls) run as Arrow-batched numpy
kernels (``pandas_udf``/``mapInPandas``, one BLAS call per batch),
because b·r interpreted lambda evaluations per row lose to BLAS by
~10× and the gap widens with the constant-matrix size.  Row-at-a-time
Python UDFs appear nowhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import literals
from .scale import ensure_parallelism

# ANN shape shared by the IVF and int8 scorers (and the catalog's
# DuckDB twins): top-10 neighbours, 2 probed cells, k-means seed 7
TOP_K = 10
NPROBE = 2
KMEANS_SEED = 7


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


# -- one-call SQL twins of the expression builders (opt-r15) ------------------
#
# Each Python-side higher-order builder above costs dozens of py4j
# round-trips per use (every F.* call and Column operator is one
# driver↔JVM message; a lambda alone is ~10 — NOTES fact 26 measured
# the storm at 0.7-1.0 ms per trip under load).  The SQL-string twins
# below hand the SAME expression to the JVM parser in ONE ``F.expr``
# round-trip: same functions, same literal types (0.0D doubles,
# CAST(0 AS BIGINT) init values), same evaluation order — the parsed
# tree is semantically identical to the Python-built one (the only
# visible difference is lambda-variable naming in explain output).
# Bit-exactness is pinned by the full DuckDB oracle suite over every
# consumer (q22/q27/q34/q36/q55/q62/q82/q117/q118/q119 + the
# embedding near-dup family).


def _dot_sql(a: str, b: str) -> str:
    """SQL text of the dot product of two array expressions.  Call
    sites pass column names backtick-quoted as ONE identifier
    (``f"`{vec_col}`"``), so a column must be a top-level name without
    backticks — a dotted struct path (``meta.vec``) resolves as a
    single literal name and fails.  Every caller passes such names;
    the same holds for ``_norm_sql`` and ``_int_dot_sql``."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    """SQL text of the L2 norm of an array expression (column names as
    in ``_dot_sql``: top-level, backtick-quoted, no backticks)."""
    return (
        f"sqrt(aggregate(transform({a}, x -> x * x), 0.0D, "
        "(acc, v) -> acc + v))"
    )


#: rounded cosine over hoisted norms — the scorer tail every float
#: top-k shares (columns ``_qv``/``_cv``/``_qn``/``_cn``)
_COSINE_SQL = f"round({_dot_sql('_qv', '_cv')} / (_qn * _cn), 4)"


def _int_dot_sql(a: str, b: str) -> str:
    """Exact int64 dot product over int-code arrays (the q55 scoring
    tier) — the SQL twin of the zip_with/aggregate long fold."""
    return (
        f"aggregate(zip_with({a}, {b}, (a, b) -> CAST(a * b AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


#: rounded int-code cosine over hoisted norms (columns
#: ``_qq``/``_cq``/``_qn``/``_cn``)
_INT_COSINE_SQL = (
    f"round(CAST({_int_dot_sql('_qq', '_cq')} AS DOUBLE) / (_qn * _cn), 4)"
)


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, score every pair, per-query window top-k.

    The corpus side is never shuffled for scoring (broadcast join);
    the only shuffle is the per-query top-k window — |queries|×k rows.
    Queries and corpus must share one id space (self-matches are
    excluded by id equality — see ``quantized_topk``'s id-space note).
    """
    # norms hoisted below the pairing join (NOTES fact 16): computed
    # once per row, carried as data — the per-pair HOF is one dot
    q = _as_double(queries, "embedding").select(
        F.col(query_id).alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.expr(_norm_sql("`embedding`")).alias("_qn"),
    )
    c = _as_double(corpus, "embedding").select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col("embedding").alias("_cv"),
        F.expr(_norm_sql("`embedding`")).alias("_cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.expr(_COSINE_SQL))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk_np(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k via an Arrow-batched numpy kernel — the
    vectorized alternative to ``brute_force_topk``'s JVM higher-order
    functions (which interpret one lambda call per vector element).

    The query matrix is collected to the driver (queries ≪ corpus — the
    same smallness assumption the broadcast join makes) and closed over
    by a ``mapInPandas`` kernel; each Arrow batch of corpus vectors is
    scored with one BLAS matmul.  Returns per-(query, candidate-batch)
    partial top-k rows; the global per-query top-k window reduces them
    — identical results to the JVM form, bit-for-bit (same rounding).
    """
    import numpy as np
    import pandas as pd

    q_rows = _as_double(queries, "embedding").select(
        F.col(query_id).alias("qid"), F.col("embedding").alias("qv")
    ).collect()
    q_ids = np.array([r["qid"] for r in q_rows])
    q_mat = np.array([r["qv"] for r in q_rows])  # (nq, dim)
    q_norm = np.linalg.norm(q_mat, axis=1)

    def score(batches):
        for pdf in batches:
            c_mat = np.array(pdf["_cv"].tolist())  # (nc, dim)
            c_ids = pdf["_cid"].to_numpy()
            sims = (c_mat @ q_mat.T) / (
                np.linalg.norm(c_mat, axis=1)[:, None] * q_norm[None, :]
            )  # (nc, nq)
            keep = min(k + 1, sims.shape[0])  # +1: self-match dropped later
            out = []
            for j, qid in enumerate(q_ids):
                # partial cut under the SAME total order the global
                # window uses — (rounded cosine desc, neighbor_id asc)
                # — so batch-local top-(k+1) provably contains the
                # batch's contribution to the global top-k even on ties
                rounded = np.round(sims[:, j], 4)
                top = np.lexsort((c_ids, -rounded))[:keep]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": c_ids[top],
                            "cosine": rounded[top],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    c = _as_double(corpus, "embedding").select(
        F.col(corpus_id).alias("_cid"), F.col("embedding").alias("_cv")
    )
    partial = c.mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_bucket(
    df: DataFrame,
    vec_col: str,
    planes: list[list[float]],
) -> DataFrame:
    """Random-hyperplane LSH bucket id: bit i = sign(v · plane_i).

    ``planes`` are fixed constants (deterministic); the bucket id is an
    integer in [0, 2^len(planes)).
    """
    # ONE F.expr round-trip for the whole bucket expression (opt-r15
    # — the r14 form still paid one literal trip per plane plus the
    # per-plane when/dot construction): same doubles, same expression
    # shape (sum of CASE WHEN dot > 0 THEN 2^i ELSE 0 END terms,
    # left-folded from 0, cast int)
    v_sql = f"CAST(`{vec_col}` AS array<double>)"
    terms = " + ".join(
        f"(CASE WHEN {_dot_sql(v_sql, literals.double_array_sql(plane))}"
        f" > 0 THEN {2 ** i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    bucket_sql = f"CAST(0 + {terms} AS INT)" if terms else "CAST(0 AS INT)"
    return df.withColumn("bucket", F.expr(bucket_sql))


def _bucket_keys(
    df: DataFrame,
    vec_col: str,
    tables: list[list[list[float]]],
    probe_hamming: int,
) -> DataFrame:
    """Add a ``_probes`` array of composite (table, bucket) probe keys.

    The composite key ``table_index * 2^planes + bucket`` keeps the
    candidate join a single-int equi-join; ``probe_hamming=1``
    additionally probes every bucket one sign-flip away.

    Hashing b tables × r planes is a single (rows × dim)·(dim × b·r)
    matmul, so it runs as an Arrow-batched numpy kernel (one BLAS call
    per batch) rather than b·r interpreted ``aggregate``/``zip_with``
    lambdas — measured ~4× faster at 36 planes over sf0.1, and the gap
    widens with b·r·dim.  Same pattern as ``brute_force_topk_np``;
    sign(v·p) at an exact float zero could differ between BLAS and a
    sequential fold, which only ever perturbs an approximate candidate
    set (LSH recall is probabilistic by contract).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_tables, n_planes = len(tables), len(tables[0])
    planes_mat = np.array(
        [p for t in tables for p in t], dtype=np.float64
    )  # (b·r, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int32)  # bit values
    bases = (np.arange(n_tables, dtype=np.int32) << n_planes)

    def _probe_keys(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(v.tolist(), dtype=np.float64)  # (n, dim)
        bits = mat @ planes_mat.T > 0  # (n, b·r)
        buckets = (
            bits.reshape(len(mat), n_tables, n_planes) * weights
        ).sum(axis=2, dtype=np.int32)  # (n, b)
        keys = buckets + bases  # base bits live above the bucket bits
        if probe_hamming == 1:
            flips = keys[:, :, None] ^ weights[None, None, :]  # (n, b, r)
            keys = np.concatenate([keys[:, :, None], flips], axis=2).reshape(
                len(mat), -1
            )
        return pd.Series(list(keys))

    # explicit annotation objects: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf cannot resolve against
    # function-local imports
    _probe_keys.__annotations__ = {"v": pd.Series, "return": pd.Series}
    probe_keys = pandas_udf(_probe_keys, "array<int>")

    return df.withColumn("_probes", probe_keys(F.col(vec_col)))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    plane_tables: list[list[list[float]]],
    k: int = 10,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only pairs whose hyperplane buckets
    match under multi-probe.

    Candidate generation is an equi-join on the bucket key (shuffle on
    a small int key, prunes ~(1 - probes/2^planes) of the corpus per
    query); recall < 1.0 by construction — q62's recall panel measures
    the trade against the exact baseline.

    ``probe_hamming`` (multi-probe LSH, Lv et al., VLDB'07): the QUERY
    side probes its own bucket plus every bucket within that Hamming
    distance (1 + planes-per-table probes at distance 1) — near neighbors
    split across a flipped sign bit are recovered at the cost of more
    candidates.  ``probe_hamming=0`` is the single-bucket form.

    ``plane_tables`` (OR-construction, Indyk–Motwani): b INDEPENDENT
    hyperplane tables; a pair is a candidate if it collides in ANY
    table — collision probability 1-(1-p^r)^b instead of p^r, the
    standard lever when one table's recall is too low (e.g. isotropic
    vectors, where near-neighbor angles are barely below 90°).  Costs
    b bucket rows per corpus vector (still one row per probe on the
    tiny query side); the join stays a single-int equi-join on a
    (table, bucket) composite key.  ``[planes]`` is the single-table
    form.
    """
    if probe_hamming not in (0, 1):
        raise ValueError("probe_hamming supports 0 (exact bucket) or 1")
    if len({len(t) for t in plane_tables}) != 1:
        raise ValueError("all hyperplane tables must have the same size")
    # norms hoisted BEFORE the probe explode (NOTES fact 16): one
    # norm per vector, not per (vector, table, query)
    q = _bucket_keys(
        _as_double(queries, "embedding").withColumn(
            "_qn", F.expr(_norm_sql("`embedding`"))
        ),
        "embedding",
        plane_tables,
        probe_hamming,
    ).select(
        F.col(query_id).alias("query_id"),
        F.col("embedding").alias("_qv"),
        "_qn",
        F.explode("_probes").alias("_tb"),
    )
    c = _bucket_keys(
        _as_double(corpus, "embedding").withColumn(
            "_cn", F.expr(_norm_sql("`embedding`"))
        ),
        "embedding",
        plane_tables,
        probe_hamming=0,
    ).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col("embedding").alias("_cv"),
        "_cn",
        # one row per (vector, table): the OR-construction's storage
        # cost lives here, b rows per corpus vector
        F.explode("_probes").alias("_tb"),
    )
    scored = (
        c.join(F.broadcast(q), "_tb")  # queries ≪ corpus: never shuffle the corpus
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.expr(_COSINE_SQL))
        .select("query_id", "neighbor_id", "cosine")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_clusters: int = 16,
) -> list[list[float]]:
    """Coarse quantizer for IVF: k-means over the corpus.

    Five Lloyd rounds: measured on the synthetic corpora,
    downstream recall@10 is IDENTICAL at 3, 5, and 10 Lloyd rounds
    (the coarse quantizer only has to partition space consistently,
    not converge tightly), and training cost is pure per-iteration
    job overhead at bench scale.

    Returns plain Python lists so the (tiny) centroid table can be
    inlined as literals into the assignment expression — no join, no
    shuffle for assignment.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = _as_double(corpus, "embedding").select(
        array_to_vector(F.col("embedding")).alias("features")
    )
    # Lloyd iterations re-reference the training frame once per round:
    # persist it for the duration of the fit so the source is scanned
    # once, not once per round.
    train.persist()
    try:
        model = KMeans(k=n_clusters, seed=KMEANS_SEED, maxIter=5).fit(train)
    finally:
        train.unpersist()
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _nearest_centroids(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    n: int,
    out_col: str,
) -> DataFrame:
    """Add an array of the ``n`` nearest centroid indices (ascending
    squared-L2 distance, ties broken toward the lower index).

    Distance-to-all-centroids is a (rows × dim)·(dim × k) matmul
    (argmin over ‖v−c‖² ≡ argmin over ‖c‖² − 2·v·c — the per-row ‖v‖²
    is constant), so like ``_bucket_keys`` this runs as an
    Arrow-batched numpy kernel instead of k×dim interpreted
    ``zip_with``/``aggregate`` lambdas per row — measured ~2× on the
    16×64 bench config, and the gap widens with k·dim.  Near-exact
    ties could order differently than a sequential float fold; that
    only perturbs an approximate candidate set (IVF recall is
    probabilistic by contract).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = np.array(centroids, dtype=np.float64)  # (k, dim)
    c_sq = (cents * cents).sum(axis=1)

    def _nearest(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(v.tolist(), dtype=np.float64)  # (rows, dim)
        d2 = c_sq[None, :] - 2.0 * (mat @ cents.T)  # (rows, k)
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n].astype(np.int32)
        return pd.Series(list(idx))

    _nearest.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return df.withColumn(
        out_col, pandas_udf(_nearest, "array<int>")(F.col(vec_col))
    )


def assign_ivf_cluster(
    df: DataFrame,
    centroids: list[list[float]],
) -> DataFrame:
    """Nearest-centroid id per row (vectorized argmin — one BLAS
    matmul per Arrow batch, see ``_nearest_centroids``)."""
    d = _as_double(df, "embedding")
    return _nearest_centroids(d, centroids, "embedding", 1, "_nc").select(
        "*", F.element_at("_nc", 1).alias("cluster")
    ).drop("_nc")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus is inverted-listed by nearest
    centroid; each query probes its ``NPROBE`` nearest cells and scores
    only those candidates (equi-join on the cluster id).

    The scale path when hyperplane LSH recall is too bucket-sensitive:
    candidate count ≈ |corpus|·NPROBE/16 per query.  Recall < 1 by
    construction.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus)
    # norms hoisted below the probe join (NOTES fact 16): once per
    # row, before the query side fans out to NPROBE rows
    c = assign_ivf_cluster(corpus, centroids).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col("embedding").alias("_cv"),
        F.expr(_norm_sql("`embedding`")).alias("_cn"),
        "cluster",
    )
    qd = _as_double(queries, "embedding")
    q = _nearest_centroids(qd, centroids, "embedding", NPROBE, "_probe").select(
        F.col(query_id).alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.expr(_norm_sql("`embedding`")).alias("_qn"),
        F.explode("_probe").alias("cluster"),
    )
    scored = (
        c.join(F.broadcast(q), "cluster")  # queries ≪ corpus
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.expr(_COSINE_SQL))
        .select("query_id", "neighbor_id", "cosine")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def quantize_embeddings_int8(
    df: DataFrame,
    id_col: str,
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    code_i = round(x_i/scale) ∈ [−127, 127].

    The storage tier for embedding columns at 100 TB — 4× smaller than
    float32, and dot products on int8 codes (rescaled by
    scale_a·scale_b) approximate the float cosine.  Entirely in-row
    (transform/aggregate higher-order functions, codegen'd): ZERO
    shuffle at any corpus size.  All-zero vectors get scale=0 and
    all-zero codes (guarded — ANSI would otherwise throw casting the
    NaN from 0/0).
    """
    d = _as_double(df, "embedding")
    # one F.expr round-trip per derived column (opt-r15): identical
    # expressions to the Python-built forms they replace (same
    # 127.0D double, round(x, 0), int casts, CASE arms)
    d = d.withColumn(
        "scale",
        F.expr("array_max(transform(`embedding`, x -> abs(x))) / 127.0D"),
    )
    codes = F.expr(
        "CASE WHEN `scale` > 0 THEN transform(`embedding`, "
        "x -> CAST(round(x / `scale`) AS INT)) "
        "ELSE transform(`embedding`, x -> 0) END"
    )
    return d.withColumn("q", codes)


def quantization_report(
    df: DataFrame,
    id_col: str,
) -> DataFrame:
    """Scalar-only quantization audit per vector: (id, scale, sum_q,
    max_abs_err) — the reconstruction-error report a pipeline checks
    before switching retrieval to the int8 tier.  Scalar outputs keep
    it oracle-hashable (array cells are not)."""
    qd = quantize_embeddings_int8(df, id_col)
    # Compute the error in its OWN projection: putting
    # ``round(scale) AS scale`` earlier in the same select list would
    # make Spark's lateral-column-alias resolution bind the ``scale``
    # inside this lambda to the ROUNDED value (silently inflating the
    # reported error) — resolved-against-input is only guaranteed
    # across projections.
    with_err = qd.withColumn(
        "_max_err",
        F.array_max(
            F.zip_with(
                F.col("q"),
                F.col("embedding"),
                lambda a, b: F.abs(a * F.col("scale") - b),
            )
        ),
    )
    return with_err.select(
        F.col(id_col),
        F.round(F.col("scale"), 6).alias("scale"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sum_q"),
        F.round(F.col("_max_err"), 6).alias("max_abs_err"),
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
) -> DataFrame:
    """Cosine top-k over int8 CODES — retrieval on the quantized
    storage tier (quantize_embeddings_int8).

    Per-vector scales cancel in the cosine (cos = Σq_a·q_b /
    (‖q_a‖·‖q_b‖)), so scoring is integer dot products + two
    precomputed norms — 4× less data movement than float32 and exact
    integer arithmetic inside the sum (codes ≤127, so a 64-dim dot
    fits a long with ~2⁴⁰ headroom).  Deterministic end-to-end
    (round-to-nearest codes, IEEE sqrt/div), hence fully
    oracle-checkable unlike LSH/IVF.  Approximation error vs float
    cosine is bounded by quantization noise — recall vs the float
    baseline is asserted in tests.

    ID-SPACE CONTRACT (all top-k scorers here): self-matches are
    excluded via ``query_id != neighbor_id``, which assumes queries
    and corpus share ONE id space (the catalog always selects queries
    FROM the corpus).  With disjoint id spaces a legitimate neighbor
    whose id merely equals the query id would be silently dropped —
    re-key one side first if your ids can collide.
    """

    def codes_with_norm(df: DataFrame, id_col: str, out_id: str, qn: str, qc: str):
        qd = quantize_embeddings_int8(df, id_col)
        return qd.select(
            F.col(id_col).alias(out_id),
            F.col("q").alias(qc),
            F.expr(f"sqrt(CAST({_int_dot_sql('q', 'q')} AS DOUBLE))").alias(
                qn
            ),
        )

    q = codes_with_norm(queries, query_id, "query_id", "_qn", "_qq")
    c = codes_with_norm(corpus, corpus_id, "neighbor_id", "_cn", "_cq")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.expr(_INT_COSINE_SQL))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


#: Hard ceiling for the exact all-pairs path: above this the cross
#: join is O(n²) by construction and the LSH path must be used.
EXACT_NEARDUP_MAX_ROWS = 100_000


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    planes: list[list[float]] | None = None,
    threshold: float = 0.95,
    exact_max_rows: int = EXACT_NEARDUP_MAX_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold.

    With ``planes`` given, candidates come from shared LSH buckets
    (scale path); without, all pairs are scored via an explicit cross
    join — the exact ORACLE BASELINE, refused outright above
    ``exact_max_rows`` corpus rows (the count costs one cheap job and
    enforces the contract that the quadratic path never runs on a real
    corpus; pass ``planes`` there instead).

    Per-row norms are hoisted BELOW the pairing join (r5, NOTES fact
    16: HOF expressions never enter whole-stage codegen, so per-pair
    scoring must carry per-row work as data, not recompute it) —
    each row's norm is computed once and joins as an 8-byte column,
    leaving one dot product as the only per-pair HOF.  Bit-identical
    to the per-pair form (same expression, same evaluation order), so
    q23's oracle hash is unaffected.  No dedup pass is needed:
    ``hyperplane_bucket`` assigns exactly ONE bucket per row (a
    single bit-signature, not multi-table bands), so a pair can only
    appear once.

    The bucket self-join BROADCASTS its build side: ``bucket`` has at most
    ``2^len(planes)`` distinct values, so a shuffle join would land
    every candidate pair on ≤ that many reduce tasks no matter the
    cluster (measured: the sf1 rehearsal corpus ran its 12M
    interpreted per-pair dot products on 8 tasks — 27 s; broadcasting
    the banded side keeps the probe side's full input partitioning
    and the same stage measured 6.4 s, pair-identical).  The
    broadcast is the whole banded table (id + vector + norm +
    bucket).  NOTE the failure mode: an explicit ``F.broadcast`` hint
    is honored regardless of ``spark.sql.autoBroadcastJoinThreshold``,
    and a hinted build side over Spark's 8 GB broadcast cap (or over
    driver/executor memory) THROWS rather than falling back to a
    shuffle — raising ``len(planes)`` does not shrink the broadcast,
    which is the whole table.  ``ensure_parallelism`` fans the probe
    side out of single-row-group inputs first.
    """
    d = _as_double(
        ensure_parallelism(df), "embedding"
    ).withColumn("_nv", F.expr(_norm_sql("`embedding`")))
    if planes is not None:
        banded = hyperplane_bucket(d, "embedding", planes)
        a = banded.select(
            F.col(id_col).alias("id_a"),
            F.col("embedding").alias("_va"),
            F.col("_nv").alias("_na"),
            "bucket",
        )
        b = banded.select(
            F.col(id_col).alias("id_b"),
            F.col("embedding").alias("_vb"),
            F.col("_nv").alias("_nb"),
            "bucket",
        )
        cand = a.join(F.broadcast(b), "bucket").filter(
            F.col("id_a") < F.col("id_b")
        )
    else:
        n = d.count()
        if n > exact_max_rows:
            raise ValueError(
                f"embedding_neardup_pairs: exact all-pairs path refused for "
                f"{n} rows (> {exact_max_rows}); pass `planes` for the "
                f"LSH-bucketed scale path"
            )
        a = d.select(
            F.col(id_col).alias("id_a"),
            F.col("embedding").alias("_va"),
            F.col("_nv").alias("_na"),
        )
        b = d.select(
            F.col(id_col).alias("id_b"),
            F.col("embedding").alias("_vb"),
            F.col("_nv").alias("_nb"),
        )
        cand = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        cand.withColumn(
            "cosine",
            F.expr(f"round({_dot_sql('_va', '_vb')} / (_na * _nb), 4)"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def spherical_assign(
    df: DataFrame,
    centroids: list[list[float]],
    out_col: str = "cluster",
) -> DataFrame:
    """Fixed-quantizer cell assignment by MAXIMUM DOT PRODUCT against
    literal centroids — the JVM expression tier (sequential zip_with
    fold, centroids inlined as array literals), oracle-exact against
    DuckDB's ``list_dot_product`` + ``list_position(l, list_max(l))``.

    The expression twin of ``assign_ivf_cluster``'s BLAS path — the
    same dual the top-k scorers keep (q22 JVM expression / q36 numpy,
    one oracle).  Unit-norm centroids make max-dot equivalent to
    nearest-cosine (spherical k-means assignment).
    """
    d = _as_double(df, "embedding")
    # the whole assignment enters as ONE F.expr (opt-r15; the r14 form
    # already used a one-call centroid literal but still built the
    # transform/argmax tree one py4j trip per node): transform applies
    # the same per-centroid sequential dot fold in matrix order, so
    # the dots array is element-for-element what the unrolled form
    # produced
    dots_sql = (
        f"transform({literals.double_matrix_sql(centroids)}, "
        f"c -> {_dot_sql('`embedding`', 'c')})"
    )
    return d.withColumn(
        out_col, F.expr(f"array_position({dots_sql}, array_max({dots_sql}))")
    )


def resolve_n_clusters(
    df: DataFrame,
    n_clusters: int | str,
) -> int:
    """Resolve the SemDeDup cluster-count lever: an int passes
    through; ``"auto"`` scales k with the corpus — ⌈n / 64⌉ clamped to
    [4, 65536] — so the expected cell size (and therefore the n²/k
    pair cost PER CELL) stays constant as the corpus grows.

    Measured at the sf1 rehearsal (NOTES.md r5 finding 3): on a 10×
    corpus, k=256 vs the fixed k=16 was 2× faster AND more accurate
    (2,001 vs 2,108 survivors on 2,000 planted groups) — k ∝ n is the
    production setting, which is why ``"auto"`` exists.  The ``n``
    here costs one count job — a rounding error next to the k-means
    training scan that follows it.
    """
    if n_clusters != "auto":
        return int(n_clusters)
    n = df.count()
    return max(4, min(65536, -(-n // 64)))


def semantic_neardup_pairs(
    df: DataFrame,
    id_col: str,
    centroids: list[list[float]] | None = None,
    n_clusters: int | str = "auto",
    threshold: float = 0.95,
    spherical_expr: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings (the existing
    IVF coarse quantizer — seeded, deterministic) and score cosine
    ONLY within a cluster.

    Scale shape: candidate generation is an equi-join on the cluster
    id, so pair cost is Σ|cluster|² ≈ n²/k for balanced cells, tuned
    by ``n_clusters`` (SemDeDup's own lever — the paper runs ~11k
    clusters over LAION embeddings; size n_clusters so the expected
    cell, |corpus|/k, keeps the per-cell self-join small).  Assignment
    itself is shuffle-free (centroids inlined, one BLAS argmin per
    Arrow batch).  Near-dups straddling a cluster boundary are missed
    by construction — the paper accepts this; use
    ``embedding_neardup_pairs(planes=...)`` when boundary recall
    matters more than cost.

    ``n_clusters`` defaults to ``"auto"`` (k ∝ n via
    ``resolve_n_clusters`` — constant expected cell size at any
    corpus scale, the setting the sf1 sweep measured as both faster
    and more accurate than any fixed k); pass an int to pin it (the
    certified q70 fixes k=16 with explicit centroids so its oracle
    stays bit-replicable).

    ``spherical_expr=True`` (requires explicit ``centroids``) swaps
    the BLAS argmin for ``spherical_assign``'s JVM expression tier —
    bit-replicable in the DuckDB oracle, the form the certified q70
    uses.
    """
    if spherical_expr and centroids is None:
        raise ValueError("spherical_expr requires explicit centroids")
    if centroids is None:
        centroids = train_ivf_centroids(
            df, n_clusters=resolve_n_clusters(df, n_clusters),
        )
    assigned = (
        spherical_assign(df, centroids)
        if spherical_expr
        else assign_ivf_cluster(df, centroids)
    )
    # materialize the assignment ONCE: the self-join references it on
    # both sides, and without the eager checkpoint each side re-runs
    # the argmin over the full corpus (same-session alternating A/B at
    # sf0.1: 2.25-2.35 s vs 2.47-2.67 s lazy; at corpus scale, one
    # assignment pass vs two is decisive)
    # precompute the norm ONCE PER ROW before the checkpoint: cosine
    # scoring is an interpreted higher-order fold (zip_with/aggregate
    # are not whole-stage-codegen'd), and the candidate join evaluates
    # it per PAIR — hoisting the two norms cuts the per-pair work to
    # the dot product alone (same doubles: sqrt once vs inline)
    assigned = assigned.withColumn(
        "_nrm", F.expr(_norm_sql("`embedding`"))
    ).localCheckpoint(eager=True)
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col("embedding").alias("_va"),
        F.col("_nrm").alias("_na"),
        "cluster",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col("embedding").alias("_vb"),
        F.col("_nrm").alias("_nb"),
        "cluster",
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.expr(f"round({_dot_sql('_va', '_vb')} / (_na * _nb), 4)"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    centroids: list[list[float]] | None = None,
    n_clusters: int | str = "auto",
    threshold: float = 0.95,
    spherical_expr: bool = False,
) -> DataFrame:
    """Apply SemDeDup: resolve ``semantic_neardup_pairs`` into
    connected components and keep each component's minimum-id row
    (composition with the dedup stack's cluster-aware removal — near
    duplicates are transitive in practice, so removal is per
    component, not per pair).  ``n_clusters="auto"`` (default) scales
    the quantizer with the corpus — see ``resolve_n_clusters``."""
    from .dedup import neardup_dedup_keep_first

    pairs = semantic_neardup_pairs(
        df,
        id_col,
        centroids=centroids,
        n_clusters=n_clusters,
        threshold=threshold,
        spherical_expr=spherical_expr,
    )
    return neardup_dedup_keep_first(df, pairs, id_col)


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
) -> DataFrame:
    """Per-query recall of an approximate top-k against the exact
    top-k — the measure-don't-guess gate every ANN variant (LSH, IVF,
    int8 codes) must clear before replacing the brute-force path.

    ``k`` is taken from the exact side per query (robust to queries
    with fewer than k scored neighbors).  Both inputs are |queries|·k
    rows — the equi-join and hash aggregates here are negligible next
    to the retrieval that produced them.  The exact side is referenced
    twice (hit join + per-query k); measured at sf0.1, exchange reuse
    makes the duplicate reference ~free, so no checkpoint is taken and
    the operator stays usable on any DataFrame.
    """
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    k_per_query = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    hits = (
        a.join(e, ["query_id", "neighbor_id"], "inner")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return k_per_query.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        "k",
        F.try_divide(
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")), F.col("k")
        ).alias("recall"),
    )


def build_ivf_index(
    corpus: DataFrame,
    id_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """The persistable inverted-file ANN index: one row per corpus
    vector with its quantizer cell, double-cast vector, and hoisted
    norm — build ONCE, write ``partitionBy("cluster")``, probe per
    query batch forever after (the q76-admission production shape,
    applied to the similarity family).

    Assignment is by max dot product against literal centroids
    (``spherical_assign`` — JVM expression, oracle-exact), with
    1-BASED cluster ids — ``probe_cells``' convention.  The expensive
    part — one assignment pass over the full corpus — happens here,
    never at query time: a daily query batch against 100 TB re-reads
    only the probed partitions of this index and re-assigns nothing.
    """
    assigned = spherical_assign(corpus, centroids)
    return assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("cluster").cast("int").alias("cluster"),
        F.col("embedding").alias("_cv"),
        F.expr(_norm_sql("`embedding`")).alias("_cn"),
    )


def probe_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    query_id: str,
) -> DataFrame:
    """Per query: its ``NPROBE`` best quantizer cells by descending
    dot product (ties toward the lower cell id — deterministic).

    Pure in-row expressions: the dot-product array over literal
    centroids is sorted as (−dot, cell) structs and sliced — no
    shuffle, no UDF; the oracle twin ranks a centroid VALUES table
    with ``row_number``.  Output: (query_id, _qv, _qn, cluster), one
    row per probed cell.
    """
    d = _as_double(queries, "embedding")
    # the whole probe list enters as ONE F.expr (opt-r15): identical
    # (negdot double, cell int) structs in identical order to the
    # per-node form it replaces
    dots_sql = (
        f"transform({literals.double_matrix_sql(centroids)}, "
        f"(c, i) -> struct(-({_dot_sql('`embedding`', 'c')}) AS negdot, "
        "CAST(i + 1 AS INT) AS cell))"
    )
    probes_sql = (
        f"transform(slice(array_sort({dots_sql}), 1, {NPROBE}), "
        "s -> s.cell)"
    )
    return d.select(
        F.col(query_id).alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.expr(_norm_sql("`embedding`")).alias("_qn"),
        F.explode(F.expr(probes_sql)).alias("cluster"),
    )


def ivf_probe_topk(
    queries: DataFrame,
    index: DataFrame,
    centroids: list[list[float]],
    query_id: str,
) -> DataFrame:
    """ANN top-k against a PREBUILT ``build_ivf_index`` table — the
    incremental/production form of ``ivf_topk``: the corpus is never
    re-assigned, and with a ``partitionBy("cluster")`` index layout
    the scan reads ONLY probed partitions.

    The distinct probed cell ids — bounded by ``len(centroids)``, NOT
    by data volume (same bounded-collect contract as the prefix-sum
    offsets) — are collected into a literal ``isin`` so static
    partition pruning applies to the index scan (``PartitionFilters``
    in the plan; pinned by ``test_ivf_index_partition_pruning``).
    The equi-join on ``cluster`` already restricts semantics; pruning
    only restricts IO.  Query side is broadcast: queries ≪ corpus,
    the index is never shuffled.
    """
    q = probe_cells(queries, centroids, query_id)
    cells = [r["cluster"] for r in q.select("cluster").distinct().collect()]
    index = index.filter(F.col("cluster").isin(cells))
    scored = (
        index.join(F.broadcast(q), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.expr(_COSINE_SQL))
        .select("query_id", "neighbor_id", "cosine")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str,
    n_per_cell: int,
    centroids: list[list[float]],
    seed: str = "seed0",
) -> DataFrame:
    """Diversity-preserving selection over an embedding corpus: assign
    every vector to its quantizer cell (``spherical_assign`` — max dot
    against fixed centroids), then keep at most ``n_per_cell`` rows
    per cell, chosen by the deterministic md5-digest order
    (``selection.digest_sample``'s key convention).  The
    cluster-then-sample step of DataComp-style curation: a uniform
    draw over a corpus with dense modes keeps the modes dense, while
    a per-cell quota flattens embedding-space coverage (the
    within-cell complement of SemDeDup, which removes near-identical
    points but never rebalances BETWEEN cells).

    Composition of certified pieces: the q70 assignment stage + the
    q75 per-group quota (``cap_per_group``), with the q77 digest key
    as the order — so the draw is reproducible across runs, engines
    and partitionings.  Output: (id, cell, rank_in_cell).

    Scale: assignment is purely in-row (centroids are plan literals);
    the quota is ONE shuffle on the cell key with a per-cell
    row_number — output bounded at ``n_per_cell × len(centroids)``
    regardless of corpus size.  A pathological cell bounds one task
    (windows don't get AQE skew handling), which the cap itself keeps
    cheap: the task only streams to rank n_per_cell's digest.
    """
    from .selection import cap_per_group

    key = F.md5(
        F.encode(
            F.concat(
                F.lit(seed), F.lit(":"), F.col(id_col).cast("string")
            ),
            "utf-8",
        )
    )
    assigned = spherical_assign(df, centroids, out_col="_cell")
    return (
        cap_per_group(
            assigned.withColumn("_k", key),
            group_col="_cell",
            order_cols=[F.col("_k")],
            n=n_per_cell,
            rank_col="rank_in_cell",
        )
        .select(
            id_col,
            F.col("_cell").cast("int").alias("cell"),
            F.col("rank_in_cell").cast("int").alias("rank_in_cell"),
        )
    )


def embedding_norm_outliers(
    df: DataFrame,
    id_col: str,
) -> DataFrame:
    """(id, norm, deviation, is_outlier) per vector — the
    corrupt-embedding detector run before any ANN/dedup stage
    consumes a vector column (truncated writes, zeroed rows and
    wrong-scale batches all land far from the corpus norm).

    Robust statistics on purpose: flag = |norm − median| > 3·MAD.
    Median and MAD are ORDER-INDEPENDENT (exact sorted-rank
    interpolation in both engines), where a mean/std would sum
    doubles in engine-dependent order and break the oracle hash —
    and they tolerate the very outliers being hunted.  Norms are
    in-row (hoisted fold, NOTES fact 16), rounded to 6 dp before any
    statistic so both engines rank identical values.

    Shape: one vector scan computes norms (localCheckpoint'ed — the
    two percentile aggregations and the flag projection all read it;
    ADVICE 18), then two single-row collects ship median and MAD back
    as plan literals.  Nothing but the norms table is ever shuffled,
    and only into two single-value aggregations.

    Both medians use the exact ``F.percentile`` (the certified oracle
    form), which buffers EVERY norm in the aggregation buffer — an
    executor-memory cliff on a billion-vector corpus (the q92
    ``quantile_bins`` hazard class).
    """
    norms = _as_double(df, "embedding").select(
        F.col(id_col),
        F.expr(f"round({_norm_sql('`embedding`')}, 6)").alias("norm"),
    ).localCheckpoint(eager=True)
    med = norms.agg(
        F.percentile(F.col("norm"), F.lit(0.5)).alias("m")
    ).collect()[0]["m"]
    med = float(med) if med is not None else 0.0
    devs = norms.select(
        F.col(id_col),
        "norm",
        F.round(F.abs(F.col("norm") - F.lit(med)), 6).alias("deviation"),
    )
    mad = devs.agg(
        F.percentile(F.col("deviation"), F.lit(0.5)).alias("m")
    ).collect()[0]["m"]
    mad = float(mad) if mad is not None else 0.0
    return devs.select(
        F.col(id_col),
        "norm",
        "deviation",
        F.when(F.col("deviation") > F.lit(3.0 * mad), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_outlier"),
    )


def _int_sqdist(vec: Column, centroid: Column) -> Column:
    """Exact squared-L2 distance (BIGINT) between an int-code array
    column and a centroid code array given as a Column (an
    ``array<bigint>`` literal or a ``transform`` lambda element).
    Integer arithmetic end-to-end: the sequential fold is order-free,
    so the value is bit-identical in Spark and the DuckDB oracle
    regardless of evaluation order — the property that makes a TRAINED
    quantizer oracle-exact where float k-means (q34's MLlib path)
    cannot be."""
    return F.aggregate(
        F.zip_with(
            vec,
            centroid,
            lambda a, b: (a.cast("long") - b) * (a.cast("long") - b),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _assign_trained_cluster(
    vec: Column, centroids: list[list[int]]
) -> Column:
    """0-based nearest-centroid index by exact integer squared-L2,
    ties to the LOWEST cluster index (``array_position`` returns the
    FIRST occurrence of the min — the same total order as the oracle's
    ``row_number() OVER (ORDER BY dist, cluster)``).  The expression
    tier; ``_nearest_trained_int`` is the Arrow/numpy twin used on the
    hot paths (same exact integers, same tie order — parity pinned in
    tests/test_r13_additions.py)."""
    darr = F.transform(
        literals.long_matrix(centroids), lambda c: _int_sqdist(vec, c)
    )
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("long")


def _nearest_trained_int(
    df: DataFrame,
    centroids: list[list[int]],
    code_col: str,
    n: int,
    out_col: str,
) -> DataFrame:
    """Array of the ``n`` nearest centroid indices by EXACT int64
    squared-L2 (ascending distance, ties to the lower index) — the
    Arrow-batched numpy twin of ``_assign_trained_cluster``.

    Unlike ``_nearest_centroids`` (float BLAS — fine for q34's
    approximate-by-contract candidates), every term here is int64:
    ``‖v‖² − 2·v·c + ‖c‖²`` over ℤ is identical to ``Σ(v−c)²`` with
    no rounding anywhere, and the stable argsort breaks ties toward
    the lower index — so the kernel is BIT-IDENTICAL to the
    interpreted expression fold while running one C-loop matmul per
    Arrow batch instead of k·dim lambda evaluations per row (measured
    4.4× on the whole q117 shape at sf1: 19.7 → 4.5 s warm, with the
    two training scans and the corpus inversion all on the kernel;
    NOTES fact 16)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not centroids:
        # np.array([]) is 1-D, so the (k, dim) reshape below would
        # raise an opaque AxisError at closure-build time; fail with
        # the actual problem instead (an empty corpus trains an empty
        # codebook — see train_kmeans_int8)
        raise ValueError(
            "_nearest_trained_int: empty codebook (empty training "
            "corpus?) — nothing to assign against"
        )
    cents = np.array(centroids, dtype=np.int64)  # (k, dim)
    c_sq = (cents * cents).sum(axis=1)  # (k,)

    def _nearest(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(v.tolist(), dtype=np.int64)  # (rows, dim)
        d2 = (
            (mat * mat).sum(axis=1)[:, None]
            - 2 * (mat @ cents.T)
            + c_sq[None, :]
        )
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n]
        return pd.Series(list(idx))

    _nearest.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return df.withColumn(
        out_col, pandas_udf(_nearest, "array<long>")(F.col(code_col))
    )


def train_kmeans_int8(
    df: DataFrame | None,
    id_col: str,
    n_clusters: int = 8,
    n_iter: int = 2,
    seed: str = "km0",
    codes: DataFrame | None = None,
) -> list[list[int]]:
    """Deterministic integer-lattice Lloyd k-means over the int8
    quantized tier — the TRAINED coarse quantizer whose training is
    reproducible across engines, partitionings and runs.

    Three determinism choices make the codebook portable (and hence
    the downstream ANN oracle-exact, graduating the IVF family from
    q34's rows-only certification):

    1. **Train on int8 codes** (``quantize_embeddings_int8``, the
       q54-certified storage tier): all cross-row sums are exact
       integer arithmetic — order-free, so Spark's partitioned
       aggregation and DuckDB's serial one agree bit-for-bit.  Float
       k-means sums in shuffle order and cannot hash across engines.
    2. **Digest-seeded init**: the first ``n_clusters`` rows in
       ``md5(seed:id)`` order (the q77/q84 reproducible-shuffle
       idiom) are the initial centroids — no RNG state to replicate.
    3. **Integer centroid updates**: each new centroid coordinate is
       ``floor(sum/count)`` — exact floor division driver-side, and
       exactly recoverable as ``floor(s/n)`` in SQL (the double
       quotient's rounding error is far below the 1/n gap to the
       nearest non-attained integer at any realistic count).  Codes
       stay in [-127, 127] forever, so distances fit comfortably in
       BIGINT.  Empty clusters keep their previous centroid.

    Scale: assignment is the exact-int64 Arrow/numpy kernel
    (``_nearest_trained_int`` — zero shuffle, one C-loop matmul per
    batch, bit-identical to the expression fold); each Lloyd round is
    one posexplode + hash-agg whose shuffle carries ≤ n_clusters·dim
    rows after map-side partial aggregation, then a bounded collect of
    the same size (the ``_bucket_weights`` class).  The codes frame is
    localCheckpoint'd at its fan-out (init + every round read it; see
    dedup.py's module note for the materialize contract) — pass a
    pre-materialized ``codes`` frame ((id, q array<int>)) to share it
    with the caller's own consumers, e.g. ``trained_ivf_topk``'s
    corpus scoring pass.

    ``n_iter`` is fixed (default 2): like ``train_ivf_centroids``
    (max_iter=5 there), the coarse quantizer only has to partition
    space consistently — measured recall is flat in the iteration
    count — and a FIXED count is what lets the oracle unroll training
    into CTEs.
    """
    if codes is None:
        if df is None:
            raise ValueError("train_kmeans_int8: pass df or codes")
        codes = (
            quantize_embeddings_int8(ensure_parallelism(df), id_col)
            .select(F.col(id_col), F.col("q"))
            .localCheckpoint(eager=True)
        )
    key = F.md5(
        F.encode(
            F.concat(
                F.lit(seed), F.lit(":"), F.col(id_col).cast("string")
            ),
            "utf-8",
        )
    )
    init_rows = codes.orderBy(key.asc()).limit(n_clusters).collect()
    cents = [[int(x) for x in r["q"]] for r in init_rows]
    # fewer rows than clusters: train with what exists — the oracle's
    # `WHERE rn <= k` init CTE shrinks the same way, so parity holds
    n_clusters = len(cents)
    if n_clusters == 0:
        # empty corpus trains an empty codebook; skip the Lloyd loop
        # (the assignment kernel rejects [] with a clear error, so a
        # degenerate input surfaces HERE, not as a numpy AxisError)
        return []
    for _ in range(n_iter):
        assigned = _nearest_trained_int(codes, cents, "q", 1, "_nc").select(
            F.element_at("_nc", 1).alias("cluster"),
            F.posexplode("q").alias("pos", "val"),
        )
        rows = (
            assigned.groupBy("cluster", "pos")
            .agg(
                F.sum(F.col("val").cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cluster: dict[int, list[tuple[int, int, int]]] = {}
        for r in rows:
            by_cluster.setdefault(int(r["cluster"]), []).append(
                (int(r["pos"]), int(r["s"]), int(r["n"]))
            )
        cents = [
            [s // n for _, s, n in sorted(by_cluster[c])]
            if c in by_cluster
            else cents[c]  # empty cluster keeps its previous centroid
            for c in range(n_clusters)
        ]
    return cents


def trained_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    k: int = 10,
    n_clusters: int = 8,
    n_iter: int = 2,
    nprobe: int = 2,
    seed: str = "km0",
) -> DataFrame:
    """IVF approximate top-k with a TRAINED (deterministic integer
    k-means) coarse quantizer — the oracle-exact twin of q34's
    MLlib-trained ``ivf_topk``.

    Pipeline: train the codebook on the corpus codes
    (``train_kmeans_int8``), invert the corpus by nearest centroid
    (the exact-int64 Arrow kernel — zero shuffle), probe each query's
    ``nprobe`` nearest cells, and score candidates with int8 integer
    dot products rescaled by the per-vector norms (the q55 scoring
    tier: scales cancel in the cosine).  Every step is exact integer
    or deterministically-rounded arithmetic, so the whole approximate
    index — training included — certifies against an unrolled SQL
    oracle, not just a rows-only check.

    Probing picks the nprobe centroid INDICES via the same kernel's
    stable argsort (ascending distance, ties to the lower index) —
    the same total order as the oracle's ``row_number() OVER
    (ORDER BY dist, cluster)``.

    Scale: candidates ≈ |corpus|·nprobe/n_clusters per query; the
    query side (tiny by contract) broadcasts into the cell equi-join,
    corpus partitioning flows through; recall < 1 by construction.
    Recall/cost is tunable at query time via ``nprobe`` without
    re-hashing — the IVF property hyperplane LSH lacks.

    PRECONDITION (shared id space, the ``ivf_topk`` convention): the
    self-match filter compares ``query_id`` to ``corpus_id`` AS
    VALUES — correct when queries are drawn from the corpus (the
    catalog shape); with independent id spaces a corpus neighbor that
    coincidentally carries a query's id is silently dropped —
    disambiguate ids (e.g. prefix one side) when tables differ.
    """
    index, cents = build_trained_ivf_index(
        corpus,
        corpus_id,
        n_clusters=n_clusters,
        n_iter=n_iter,
        seed=seed,
    )
    # prune=False: the index is an in-memory frame here, so the
    # partition-pruning isin (and its extra bounded collect) buys
    # nothing — that path is for the persisted-index form
    return trained_ivf_probe_topk(
        queries, index, cents, query_id,
        k=k, nprobe=nprobe, prune=False,
    )


def _int_norm() -> Column:
    """sqrt of the exact int64 self-dot of a code array — identical
    in both engines (same long sum, same IEEE sqrt).  One F.expr
    round-trip (opt-r15), same expression as the Python-built fold."""
    return F.expr(
        "sqrt(CAST(aggregate(transform(`q`, "
        "x -> CAST(x * x AS BIGINT)), CAST(0 AS BIGINT), "
        "(acc, v) -> acc + v) AS DOUBLE))"
    )


def build_trained_ivf_index(
    corpus: DataFrame,
    id_col: str,
    n_clusters: int = 8,
    n_iter: int = 2,
    seed: str = "km0",
) -> tuple[DataFrame, list[list[int]]]:
    """The persistable TRAINED inverted-file index: train the integer
    codebook on the corpus (``train_kmeans_int8``), then emit one row
    per vector — ``(neighbor_id, cluster, _cq array<int>, _cn)`` —
    plus the codebook itself (plain int lists: store them next to the
    index; they are the probe key).  The trained counterpart of
    ``build_ivf_index``: build once, ``write.partitionBy("cluster")``,
    probe per query batch with ``trained_ivf_probe_topk`` forever
    after.  Because training is deterministic (NOTES fact 21), a lost
    codebook is exactly re-derivable from the corpus — the index is
    reproducible in a way an MLlib-trained one is not.

    Zero-norm rows are dropped here (they can never score — cosine is
    undefined at norm 0 — so persisting them only wastes probe IO);
    they still participated in training via the codes frame.
    """
    qc = quantize_embeddings_int8(
        ensure_parallelism(corpus), id_col
    ).select(
        F.col(id_col).alias("neighbor_id"), F.col("q")
    ).localCheckpoint(eager=True)
    cents = train_kmeans_int8(
        None,
        id_col,
        n_clusters=n_clusters,
        n_iter=n_iter,
        seed=seed,
        codes=qc.select(F.col("neighbor_id").alias(id_col), "q"),
    )
    if not cents:
        raise ValueError(
            "build_trained_ivf_index: empty corpus — no codebook to "
            "train (an index over nothing has no cells to probe)"
        )
    index = _nearest_trained_int(qc, cents, "q", 1, "_nc").select(
        "neighbor_id",
        F.col("q").alias("_cq"),
        _int_norm().alias("_cn"),
        F.element_at("_nc", 1).alias("cluster"),
    ).filter(F.col("_cn") > 0)
    return index, cents


def trained_ivf_probe_topk(
    queries: DataFrame,
    index: DataFrame,
    codebook: list[list[int]],
    query_id: str,
    k: int = 10,
    nprobe: int = 2,
    prune: bool = True,
) -> DataFrame:
    """ANN top-k against a ``build_trained_ivf_index`` table — the
    production form: the corpus is never re-assigned; queries are
    quantized, probe their ``nprobe`` nearest codebook cells (the
    exact-int64 kernel's stable argsort — ties to the lower index),
    and score int8 dot products only within probed cells.

    ``prune=True`` collects the distinct probed cell ids — bounded by
    ``len(codebook)``, not data volume — into a literal ``isin`` so a
    ``partitionBy("cluster")`` index scan gets static partition
    pruning (the q82 ``ivf_probe_topk`` contract, trained edition).
    The probe frame is localCheckpoint'd at that fork (fact 18: it
    feeds BOTH the cell collect and the scoring join — without the
    pin the quantize + Arrow-kernel pipeline would run twice).
    Query side broadcasts; the index is never shuffled; no dedup pass
    (one cluster per corpus row, distinct probe indices).

    PRECONDITION (shared id space, the ``ivf_probe_topk`` convention):
    the self-match filter drops pairs where ``query_id`` equals
    ``neighbor_id`` AS VALUES — correct when queries are drawn from
    the indexed corpus (the catalog shape), but if the two tables have
    independent id spaces, a corpus neighbor that coincidentally
    carries a query's id is silently dropped.  Disambiguate ids
    (e.g. prefix one side) when querying across tables.
    """
    q = (
        _nearest_trained_int(
            quantize_embeddings_int8(queries, query_id),
            codebook,
            "q",
            nprobe,
            "_p",
        )
        .select(
            F.col(query_id).alias("query_id"),
            F.col("q").alias("_qq"),
            _int_norm().alias("_qn"),
            F.col("_p"),
        )
        .filter(F.col("_qn") > 0)
        .select(
            "query_id",
            "_qq",
            "_qn",
            F.explode("_p").alias("cluster"),
        )
    )
    if prune:
        # fact 18: q fans out to the cell collect AND the scoring
        # join — pin it so quantize + the Arrow kernel run once
        # (queries are tiny by contract, so the pin is cheap)
        q = q.localCheckpoint(eager=True)
        cells = [
            r["cluster"] for r in q.select("cluster").distinct().collect()
        ]
        index = index.filter(F.col("cluster").isin(cells))
    scored = (
        index.join(F.broadcast(q), "cluster")  # queries ≪ corpus
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.expr(_INT_COSINE_SQL))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# -- trained-index lifecycle (r14): persist, verify, append, drift ------------
#
# The maintenance contract for a persisted approximate index: the
# parameters that make its rows comparable are STAMPED at write time,
# and every later reader/appender verifies the stamp before touching
# the table — an index silently mixing incompatible rows returns wrong
# candidates forever.  For the trained IVF that parameter is the
# CODEBOOK itself: rows assigned under different codebooks must never
# share an index.  The stamp is a
# JSON sidecar under an underscore-prefixed subdirectory (parquet
# readers skip `_`-prefixed paths, so the data scan never sees it),
# holding the codebook, its md5 digest, the training parameters, and
# the per-cell baseline statistics the drift report compares against.

_TRAINED_IVF_META = "_trained_ivf_meta"


def _codebook_digest(codebook: list[list[int]]) -> str:
    import hashlib
    import json

    return hashlib.md5(
        json.dumps(codebook, separators=(",", ":")).encode()
    ).hexdigest()


def _own_centroid_sqdist(codebook: list[list[int]]) -> Column:
    """Exact int64 squared-L2 from a row's ``_cq`` code to its OWN
    assigned centroid: select the centroid by the row's ``cluster``
    (1-based ``element_at``), then one dim-length zip fold — dim work
    per row, not k·dim (the full-distance kernel is only needed when
    the assignment is unknown)."""
    own = (
        f"element_at({literals.long_matrix_sql(codebook)}, "
        "CAST(cluster + 1 AS INT))"
    )
    return F.expr(
        f"aggregate(zip_with(_cq, {own}, "
        "(a, b) -> (CAST(a AS BIGINT) - b) * (CAST(a AS BIGINT) - b)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _trained_cell_stats(
    index: DataFrame, codebook: list[list[int]]
) -> list[dict]:
    """Per-cell (cluster) membership stats over an index frame:
    exact row count and exact int64 sum of squared distances to the
    assigned centroid — the order-free integers a drift report can
    difference exactly.  Bounded collect: ≤ len(codebook) rows."""
    rows = (
        index.select("cluster", _own_centroid_sqdist(codebook).alias("d2"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("d2").alias("s"),
        )
        .collect()
    )
    return sorted(
        (
            {
                "cluster": int(r["cluster"]),
                "n": int(r["n"]),
                "sum_sq_dist": int(r["s"]),
            }
            for r in rows
        ),
        key=lambda d: d["cluster"],
    )


def write_trained_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    n_clusters: int = 8,
    n_iter: int = 2,
    seed: str = "km0",
) -> list[list[int]]:
    """Train + persist the trained IVF index: ``build_trained_ivf_index``
    written ``partitionBy("cluster")`` (static partition pruning at
    probe — the q82 contract), plus the metadata sidecar that makes the
    table maintainable: codebook, digest, training params, and the
    per-cell baseline stats ``trained_ivf_drift_report`` compares
    against.  Returns the codebook (it is also recoverable from the
    sidecar via ``load_trained_ivf_index``, and — training being
    deterministic — from the corpus itself).

    The sidecar is written THROUGH Spark (a 1-row text write), not the
    driver's local filesystem, so the index lives wherever the table
    does (object store at 100 TB)."""
    import json

    index, cents = build_trained_ivf_index(
        corpus,
        id_col,
        n_clusters=n_clusters,
        n_iter=n_iter,
        seed=seed,
    )
    # REBALANCE by the partition column before the partitionBy write
    # (guide §6 output sizing, opt-r15): without it every scan task
    # opens one file per cluster it touches — tasks × clusters tiny
    # files (measured 256/write at sf0.1; the read-back stats pass
    # and every probe pay the per-file open cost).  The AQE rebalance
    # clusters rows by ``cluster`` and still splits oversized
    # partitions, so one hot cell cannot serialize the write.  File
    # layout only — the written ROWS are identical.
    index.hint("rebalance", "cluster").write.partitionBy(
        "cluster"
    ).mode("overwrite").parquet(path)
    spark = corpus.sparkSession
    # baseline stats from the just-written files — NOT a fact-18 fork:
    # the written table IS the materialization (the kernel never
    # re-runs), the stats pass is a column-pruned read of
    # (cluster, _cq), and an r14 same-session A/B showed a
    # localCheckpoint pin only adds the extra executor-local copy
    baseline = _trained_cell_stats(spark.read.parquet(path), cents)
    meta = {
        "codebook": cents,
        "digest": _codebook_digest(cents),
        "params": {
            "n_clusters": n_clusters,
            "n_iter": n_iter,
            "seed": seed,
            "dim": len(cents[0]),
        },
        "baseline": baseline,
    }
    # JVM-side 1-row literal frame: a createDataFrame over local
    # Python data pays a Python-worker launch per partition (~5 s
    # under coalesce(1), measured r14); a literal column is pure JVM
    spark.range(1).select(
        F.lit(json.dumps(meta)).alias("v")
    ).coalesce(1).write.mode("overwrite").text(
        f"{path}/{_TRAINED_IVF_META}"
    )
    return cents


def _read_trained_ivf_meta(spark, path: str) -> dict:
    import json

    rows = spark.read.text(f"{path}/{_TRAINED_IVF_META}").collect()
    lines = [r["value"] for r in rows if r["value"].strip()]
    if len(lines) != 1:
        # a missing or multi-part sidecar means the stamp cannot be
        # trusted — refuse rather than probe/append blind (the write
        # path emits exactly one coalesced line)
        raise ValueError(
            f"trained-IVF metadata sidecar at {path}/{_TRAINED_IVF_META} "
            f"holds {len(lines)} non-empty lines (expected exactly 1) — "
            "index stamp unreadable; rebuild with write_trained_ivf_index"
        )
    return json.loads(lines[0])


def load_trained_ivf_index(
    spark,
    path: str,
    codebook: list[list[int]] | None = None,
) -> tuple[DataFrame, list[list[int]]]:
    """Read-path stamp check: return the index frame plus the STAMPED
    codebook after verifying the caller's codebook (when given)
    digests to the stamp — raising before any query runs on a
    mismatch, because probing a table with the wrong codebook silently
    returns wrong neighbors.  Pass
    ``codebook=None`` to adopt the stamped one (the common probe-side
    call: the sidecar is the source of truth)."""
    meta = _read_trained_ivf_meta(spark, path)
    if codebook is not None and _codebook_digest(codebook) != meta["digest"]:
        raise ValueError(
            "load_trained_ivf_index: caller codebook does not match the "
            f"stamp at {path} (digest {_codebook_digest(codebook)} != "
            f"{meta['digest']}) — refusing to probe with the wrong "
            "codebook"
        )
    return spark.read.parquet(path), meta["codebook"]


def append_to_trained_ivf_index(
    batch: DataFrame,
    path: str,
    id_col: str,
    codebook: list[list[int]] | None = None,
    meta: dict | None = None,
) -> None:
    """Index maintenance — assign ONLY the new batch under the FROZEN
    stamped codebook and append its rows, so a growing corpus is
    absorbed without re-training or rewriting the index.  When the
    caller passes a codebook it is verified against the stamp and the
    call raises before writing on any mismatch; the assignment always
    uses the stamped codebook.  The baseline stats are NOT updated —
    they deliberately pin the TRAINING-time distribution, which is
    what ``trained_ivf_drift_report`` measures drift against; re-train
    (``write_trained_ivf_index``) to reset the baseline.

    Appended vectors are quantized and kernel-assigned exactly as the
    builder's corpus was (same ``_nearest_trained_int`` path), so an
    appended index is row-identical to one built over the full corpus
    UNDER THE SAME CODEBOOK — parity pinned in tests; note the
    codebook itself WOULD differ had training seen the new rows, which
    is precisely the drift the report surfaces.

    ``meta`` lets a caller that has ALREADY read the sidecar this
    session (e.g. a write→append→report pipeline) pass it through
    instead of paying the read again; omitted, the stamp is read from
    the table as before."""
    spark = batch.sparkSession
    if meta is None:
        meta = _read_trained_ivf_meta(spark, path)
    if codebook is not None and _codebook_digest(codebook) != meta["digest"]:
        raise ValueError(
            "append_to_trained_ivf_index: caller codebook does not match "
            f"the stamp at {path} — refusing to mix assignments from "
            "different codebooks in one index"
        )
    cents = meta["codebook"]
    qc = quantize_embeddings_int8(
        ensure_parallelism(batch), id_col
    ).select(F.col(id_col).alias("neighbor_id"), F.col("q"))
    rows = (
        _nearest_trained_int(qc, cents, "q", 1, "_nc")
        .select(
            "neighbor_id",
            F.col("q").alias("_cq"),
            _int_norm().alias("_cn"),
            F.element_at("_nc", 1).alias("cluster"),
        )
        .filter(F.col("_cn") > 0)
    )
    # same output-sizing rebalance as write_trained_ivf_index (file
    # layout only; appended rows identical)
    rows.hint("rebalance", "cluster").write.partitionBy("cluster").mode(
        "append"
    ).parquet(path)


def trained_ivf_drift_report(
    spark, path: str, meta: dict | None = None
) -> DataFrame:
    """Codebook-staleness report for a persisted trained IVF index:
    per cell, the TRAINING-time baseline (stamped at
    ``write_trained_ivf_index``) against the CURRENT membership —
    count share ratio (cell growth vs the rest of the index) and mean
    squared distance to the frozen centroid (appended vectors landing
    far from every centroid inflate it).  The re-train signal:
    ``share_ratio`` far from 1 means the append stream is filling
    cells the training corpus under-represented; ``dist_ratio``
    climbing means the frozen centroids no longer sit in the middle of
    their cells — either way the codebook is stale, re-train and
    re-assign (``write_trained_ivf_index``); both ≈ 1 means keep
    appending (``append_to_trained_ivf_index``).

    Exact where it matters: counts and distance SUMS are exact int64
    (order-free — the same property that makes training oracle-exact);
    only the final ratios divide and round.  One index scan + a
    broadcast join of the ≤k-row baseline; the report is ≤k rows.
    ``meta`` skips the sidecar re-read when the caller already holds
    it (same contract as ``append_to_trained_ivf_index``)."""
    if meta is None:
        meta = _read_trained_ivf_meta(spark, path)
    cents = meta["codebook"]
    # baseline as a JVM-side literal frame (≤k rows): avoids the
    # Python-worker launch a createDataFrame over local data costs
    base = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b["cluster"]).cast("long").alias("cluster"),
                        F.lit(b["n"]).cast("long").alias("n_train"),
                        F.lit(b["sum_sq_dist"])
                        .cast("long")
                        .alias("sum_sq_dist_train"),
                    )
                    for b in meta["baseline"]
                ]
            )
        ).alias("b")
    ).select("b.*")
    now = (
        spark.read.parquet(path)
        # partition-column type inference reads cluster=N dirs as INT;
        # pin long so the report schema is stable (and matches the
        # builder's long cluster ids)
        .withColumn("cluster", F.col("cluster").cast("long"))
        .select("cluster", _own_centroid_sqdist(cents).alias("d2"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_now"),
            F.sum("d2").alias("sum_sq_dist_now"),
        )
    )
    # cells can exist in only one side (a cell empty at training time
    # that appends filled, or vice versa) — full outer keeps both; no
    # broadcast hint (unsupported for full outer builds), and both
    # sides are ≤k aggregated rows so the SMJ exchanges are bounded
    rep = now.join(base, "cluster", "full_outer").select(
        "cluster",
        F.coalesce("n_train", F.lit(0)).alias("n_train"),
        F.coalesce("n_now", F.lit(0)).alias("n_now"),
        F.coalesce("sum_sq_dist_train", F.lit(0)).alias(
            "sum_sq_dist_train"
        ),
        F.coalesce("sum_sq_dist_now", F.lit(0)).alias("sum_sq_dist_now"),
    )
    tot = rep.agg(
        F.sum("n_train").alias("_tt"), F.sum("n_now").alias("_tn")
    )
    # try_divide: a cell empty on one side (n 0) reads NULL in its
    # ratios instead of throwing under ANSI division — NULL is the
    # right report value for "no baseline/current members to compare"
    mean_train = F.try_divide(F.col("sum_sq_dist_train"), F.col("n_train"))
    mean_now = F.try_divide(F.col("sum_sq_dist_now"), F.col("n_now"))
    return (
        rep.join(F.broadcast(tot))
        .select(
            "cluster",
            "n_train",
            "n_now",
            F.round(
                F.try_divide(
                    F.try_divide(F.col("n_now"), F.col("_tn")),
                    F.try_divide(F.col("n_train"), F.col("_tt")),
                ),
                4,
            ).alias("share_ratio"),
            F.round(mean_train, 4).alias("mean_sq_dist_train"),
            F.round(mean_now, 4).alias("mean_sq_dist_now"),
            F.round(F.try_divide(mean_now, mean_train), 4).alias(
                "dist_ratio"
            ),
        )
        .orderBy("cluster")
    )

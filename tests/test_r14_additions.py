"""r14: trained-IVF index lifecycle — persist with a codebook-digest
stamp, stamp-checked load/append, and the drift report that decides
re-train vs re-assign (r13 VERDICT #5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_podcast_etl_spark.operators.similarity import (
    _codebook_digest,
    _nearest_trained_int,
    _int_norm,
    _trained_cell_stats,
    append_to_trained_ivf_index,
    load_trained_ivf_index,
    quantize_embeddings_int8,
    trained_ivf_drift_report,
    trained_ivf_probe_topk,
    write_trained_ivf_index,
)
from serverless_podcast_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
KW = dict(n_clusters=4, n_iter=2, seed="life")


def _emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


def _assign_under(df, codebook, id_col="vec_id"):
    """Expected index rows for ``df`` under a FROZEN codebook — the
    builder/appender assignment pipeline, re-stated independently."""
    qc = quantize_embeddings_int8(df, id_col).select(
        F.col(id_col).alias("neighbor_id"), "q"
    )
    return (
        _nearest_trained_int(qc, codebook, "q", 1, "_nc")
        .select(
            "neighbor_id",
            F.col("q").alias("_cq"),
            _int_norm().alias("_cn"),
            F.element_at("_nc", 1).alias("cluster"),
        )
        .filter(F.col("_cn") > 0)
    )


def test_write_load_append_roundtrip_and_parity(spark, tmp_path):
    """Appended index == assignment of the full corpus under the
    FROZEN codebook (the append docstring's contract), and a probe of
    the appended index matches a probe of that expected frame."""
    emb = _emb(spark)
    initial = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "ivf")

    cents = write_trained_ivf_index(initial, path, "vec_id", **KW)
    append_to_trained_ivf_index(batch, path, "vec_id", codebook=cents)

    loaded, stamped = load_trained_ivf_index(spark, path, cents)
    assert stamped == cents

    got = sorted(
        (r["neighbor_id"], r["cluster"], tuple(r["_cq"]))
        for r in loaded.collect()
    )
    want = sorted(
        (r["neighbor_id"], r["cluster"], tuple(r["_cq"]))
        for r in _assign_under(emb, cents).collect()
    )
    assert got == want and got

    queries = emb.filter(F.col("vec_id") < 4)
    probe_disk = trained_ivf_probe_topk(
        queries, loaded, cents, "vec_id", k=6, nprobe=2
    )
    probe_mem = trained_ivf_probe_topk(
        queries, _assign_under(emb, cents), cents, "vec_id", k=6, nprobe=2
    )
    a = sorted(map(tuple, probe_disk.collect()))
    assert a == sorted(map(tuple, probe_mem.collect()))
    assert a


def test_mismatched_codebook_refused(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    cents = write_trained_ivf_index(emb, path, "vec_id", **KW)
    wrong = [[c + 1 for c in row] for row in cents]
    assert _codebook_digest(wrong) != _codebook_digest(cents)
    with pytest.raises(ValueError, match="refusing to mix"):
        append_to_trained_ivf_index(
            emb.limit(5), path, "vec_id", codebook=wrong
        )
    with pytest.raises(ValueError, match="refusing to probe"):
        load_trained_ivf_index(spark, path, wrong)
    # codebook=None adopts the stamp (the probe-side convention)
    _, stamped = load_trained_ivf_index(spark, path)
    assert stamped == cents


def test_drift_report_fresh_index_reads_unity(spark, tmp_path):
    """Right after a write, now == training baseline: every populated
    cell reads share_ratio == dist_ratio == 1."""
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    write_trained_ivf_index(emb, path, "vec_id", **KW)
    rep = trained_ivf_drift_report(spark, path).collect()
    assert rep
    for r in rep:
        assert r["n_now"] == r["n_train"] > 0
        assert r["share_ratio"] == 1.0
        # dist_ratio is NULL when a cell's members sit exactly on the
        # centroid (mean 0/0 has no ratio); otherwise exactly 1
        assert r["dist_ratio"] in (1.0, None)


def test_drift_report_matches_plain_recomputation(spark, tmp_path):
    """After an append the report's every value must equal a plain
    recomputation from the on-disk rows + the stamped baseline."""
    emb = _emb(spark)
    initial = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "ivf")
    cents = write_trained_ivf_index(initial, path, "vec_id", **KW)
    base = _trained_cell_stats(
        spark.read.parquet(path), cents
    )  # pre-append == stamped baseline
    append_to_trained_ivf_index(batch, path, "vec_id")

    now = _trained_cell_stats(spark.read.parquet(path), cents)
    bt = {b["cluster"]: b for b in base}
    nt = {b["cluster"]: b for b in now}
    tot_t = sum(b["n"] for b in base)
    tot_n = sum(b["n"] for b in now)

    rep = {r["cluster"]: r for r in trained_ivf_drift_report(spark, path).collect()}
    assert set(rep) == set(bt) | set(nt)
    for c, r in rep.items():
        b, n = bt.get(c), nt.get(c)
        assert r["n_train"] == (b["n"] if b else 0)
        assert r["n_now"] == (n["n"] if n else 0)
        if b and n:
            assert r["share_ratio"] == round(
                (n["n"] / tot_n) / (b["n"] / tot_t), 4
            )
            assert r["mean_sq_dist_now"] == round(
                n["sum_sq_dist"] / n["n"], 4
            )
            if b["sum_sq_dist"] > 0:
                assert r["dist_ratio"] == round(
                    (n["sum_sq_dist"] / n["n"]) / (b["sum_sq_dist"] / b["n"]),
                    4,
                )
    # the append grew the index without touching the baseline
    assert tot_n > tot_t


def test_append_keeps_partition_pruning(spark, tmp_path):
    """The maintained index keeps the q82 contract: a pruned probe of
    the post-append table scans only probed cluster partitions."""
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    cents = write_trained_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), path, "vec_id", **KW
    )
    append_to_trained_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 1), path, "vec_id"
    )
    loaded, _ = load_trained_ivf_index(spark, path, cents)
    probe = trained_ivf_probe_topk(
        emb.filter(F.col("vec_id") < 3), loaded, cents, "vec_id",
        k=5, nprobe=1,
    )
    assert probe.count() > 0
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cluster" in plan.split("PartitionFilters", 1)[1][:200]


from hypothesis import given, settings
from hypothesis import strategies as st

# st.shared: ONE dim per example, every vector drawn at that dim
_DIM = st.shared(st.integers(min_value=2, max_value=4), key="dim14")
_VEC = _DIM.flatmap(
    lambda d: st.lists(
        st.integers(min_value=-31, max_value=31), min_size=d, max_size=d
    ).filter(lambda v: any(x != 0 for x in v))
)
_CORPUS = st.lists(_VEC, min_size=8, max_size=24)


@settings(max_examples=6, deadline=None)
@given(_CORPUS, st.integers(min_value=2, max_value=4))
def test_drift_report_invariants_hypothesis(spark, tmp_path_factory, vecs, k):
    """Structural invariants over random corpora/splits: totals add up
    to the nonzero-norm corpus, appends only grow cells (train rows
    assign identically under the frozen codebook), and a cell's
    baseline never changes post-append."""
    rows = [
        (i, [float(x) for x in v]) for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    initial = df.filter(F.col("vec_id") % 2 == 0)
    batch = df.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path_factory.mktemp("drift") / "ivf")
    write_trained_ivf_index(
        initial, path, "vec_id", n_clusters=k, n_iter=2, seed="h"
    )
    append_to_trained_ivf_index(batch, path, "vec_id")
    rep = trained_ivf_drift_report(spark, path).collect()
    n_initial = initial.count()  # test vectors are all nonzero-norm
    n_all = len(rows)
    assert sum(r["n_train"] for r in rep) == n_initial
    assert sum(r["n_now"] for r in rep) == n_all
    for r in rep:
        assert r["n_now"] >= r["n_train"]
        if r["n_train"] > 0 and r["n_now"] > 0:
            assert r["share_ratio"] is not None and r["share_ratio"] > 0


def test_codebook_drift_oracle_generator_at_alternate_params(
    spark, tmp_path
):
    """The catalog certifies _codebook_drift_sql at its fixed
    constants (8 clusters / 2 rounds / seed km2 / %3 split); this pins
    the GENERATOR itself — a different cluster count, unroll depth,
    seed and split must still hash-match the live write→append→report
    pipeline on the real sf0.001 table."""
    from serverless_podcast_etl_spark.plans.catalog import (
        _codebook_drift_sql,
        _t,
    )

    from .oracle import compare

    sf_dir = "/root/testdata/sf0.001"
    emb = _t(spark, sf_dir, "embeddings")
    path = str(tmp_path / "alt_ivf")
    write_trained_ivf_index(
        emb.filter(F.col("vec_id") % 5 != 0), path, "vec_id",
        n_clusters=3, n_iter=3, seed="alt2",
    )
    append_to_trained_ivf_index(
        emb.filter(F.col("vec_id") % 5 == 0), path, "vec_id"
    )
    df = trained_ivf_drift_report(spark, path)
    sql = _codebook_drift_sql(
        n_clusters=3, n_iter=3, seed="alt2",
        train_pred="vec_id % 5 <> 0",
    )
    problems = compare(df, sql, sf_dir)
    assert not problems, "; ".join(problems)


def test_corrupt_sidecar_refused(spark, tmp_path):
    """A clobbered metadata sidecar must refuse with a clear message,
    not IndexError/JSONDecodeError into a blind probe."""
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    write_trained_ivf_index(emb, path, "vec_id", **KW)
    # clobber: two non-empty lines
    spark.range(1).select(
        F.explode(F.array(F.lit("{}"), F.lit("{}"))).alias("v")
    ).coalesce(1).write.mode("overwrite").text(
        path + "/_trained_ivf_meta"
    )
    with pytest.raises(ValueError, match="stamp unreadable"):
        load_trained_ivf_index(spark, path)
    with pytest.raises(ValueError, match="stamp unreadable"):
        append_to_trained_ivf_index(emb.limit(3), path, "vec_id")

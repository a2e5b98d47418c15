"""Physical-plan assertions — the scale contract.

Correctness tests prove the numbers match; these prove the PLANS are
the ones that survive a 100 TB / 1000-executor scale-up:

* filters reach the parquet scan (``PushedFilters``),
* scans read only referenced columns (``ReadSchema`` pruning),
* small-dimension joins broadcast instead of shuffling both sides,
* aggregates are partial (map-side combine) before their exchange,
* nothing in the catalog degenerates into a cartesian product.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from serverless_podcast_etl_spark.plans.catalog import CATALOG


def physical_plan(df) -> str:
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = physical_plan(CATALOG["q03_filtered_mention_counts"].fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull" in plan or "PushedFilters: [EqualTo" in plan
    assert "EqualTo(event_type,click)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    # q03 touches only user_id + event_type of the 6-column events table.
    plan = physical_plan(CATALOG["q03_filtered_mention_counts"].fn(spark, sf_dir))
    assert "ReadSchema: struct<user_id:bigint,event_type:string>" in plan


def test_dim_join_broadcasts(spark, sf_dir):
    plan = physical_plan(CATALOG["q04_segment_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aggregate_is_partial(spark, sf_dir):
    # Map-side combine: a partial_ aggregate must appear below the
    # exchange, so the shuffle carries |groups| rows, not |input| rows.
    plan = physical_plan(CATALOG["q02_event_type_counts"].fn(spark, sf_dir))
    assert "partial_count" in plan


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_no_cartesian_products(spark, sf_dir, name):
    # Brute-force ANN scoring broadcasts a tiny query set against the
    # corpus by design — the sanctioned nested-loop joins (q55 is the
    # same shape over int8 codes).
    allowed_nested_loop = {
        "q22_ann_topk",
        "q23_embedding_neardup",
        "q55_quantized_ann_topk",
        "q60_ann_recall",  # composes q22's exact scorer as its baseline
        "q62_ann_recall_panel",  # same: every method scored vs q22
        # ONE-ROW broadcast attach (the N/V totals of the unigram LM)
        # — a keyless join against a single aggregated row, not a
        # pair-generating nested loop
        "q80_unigram_lm_scores",
        # same one-row totals attach, onto the ≤k-row drift report
        "q119_codebook_drift",
        # composes q22's exact scorer as the dense arm of the fusion
        "q121_hybrid_rrf",
    }
    plan = physical_plan(CATALOG[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, name
    if name not in allowed_nested_loop:
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_shingle_ops_have_no_shuffle(spark, sf_dir):
    # MinHash signatures are computed entirely in-row: the only
    # exchange tolerated is the ensure_parallelism round-robin (which
    # disappears on real multi-partition inputs).
    from serverless_podcast_etl_spark.operators.dedup import minhash_signatures
    from serverless_podcast_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    many = docs.repartition(64)  # simulate a real multi-partition input
    plan = physical_plan(
        minhash_signatures(many, text_col="text", id_col="doc_id")
    )
    # the only exchange is our explicit round-robin repartition; the
    # operator itself adds no key shuffle (formatted plans print every
    # node twice — tree and detail — so match partitioning kinds, not
    # node-name counts)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_zip_join_partitioned_no_single_partition(spark, sf_dir):
    """q11's certified zip join must row-number per group key, never
    over a global single-partition window: the plan's window/sort nodes
    must hash-partition on the group key, with no empty-key
    ``Window [...]`` partition spec (which would funnel the whole table
    through one task at 100 TB)."""
    plan = physical_plan(CATALOG["q11_zip_join"].fn(spark, sf_dir))
    # Every Exchange in the plan must be a hashpartitioning on grp —
    # a global window would show a SinglePartition exchange.
    assert "SinglePartition" not in plan
    assert "hashpartitioning(grp" in plan


def test_q62_exact_baseline_materialized_once(spark, sf_dir):
    """The recall panel's exact scorer (the only expensive BNLJ) must
    be pinned behind an eager checkpoint: the panel plan then reads
    checkpointed rows (ExistingRDD scans) for all six baseline
    references, and the only nested-loop join left is the int8
    method's own sanctioned scorer.  Exchange reuse made this ~free
    locally, but reuse is best-effort — at 100× a miss would re-run
    the corpus-wide scorer per method."""
    import re

    plan = physical_plan(CATALOG["q62_ann_recall_panel"].fn(spark, sf_dir))
    # count operator NODES (formatted explain prints each node twice:
    # once in the tree sketch, once in the detail section)
    bnlj_nodes = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(bnlj_nodes) == 1, f"{len(bnlj_nodes)} BNLJ nodes: {plan[:2000]}"
    assert "ExistingRDD" in plan


def test_global_prefix_sum_has_no_single_partition_exchange(spark, sf_dir):
    """The q74 scale contract: the global running sum must come from
    the two-pass range-partition pattern, never a plan that funnels
    the corpus through one partition (Window.orderBy without
    partitionBy prints Exchange SinglePartition)."""
    from serverless_podcast_etl_spark.functions import textstats
    from serverless_podcast_etl_spark.operators.selection import (
        select_under_budget,
    )
    from serverless_podcast_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    stats = textstats.quality_stats(docs, text_col="text", id_col="doc_id")
    sel = select_under_budget(
        stats.select(
            "doc_id", "stopword_ratio",
            F.col("n_tokens").cast("long").alias("n_tokens"),
        ),
        cost_col="n_tokens",
        order_cols=[F.col("stopword_ratio").desc(), F.col("doc_id")],
        budget=10_000,
        cum_col="cum_tokens",
    )
    plan = physical_plan(sel)
    assert "SinglePartition" not in plan, plan
    assert sel.count() > 0


def test_leakage_free_split_broadcasts_component_table(spark, sf_dir):
    """The q73 scale contract: the corpus-side join against the
    (pair-list-bounded) component table must broadcast — the corpus
    itself is never shuffled for the split assignment."""
    plan = physical_plan(
        CATALOG["q73_leakage_free_split"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    # the corpus scan side carries no hash exchange: the only join is
    # the broadcast one
    assert "SortMergeJoin" not in plan, plan


def test_digest_sample_plans_as_top_n_not_global_sort(spark, sf_dir):
    """q77's exact-N sample must plan as TakeOrderedAndProject
    (per-partition top-n + one merge), never a full global sort +
    limit — the property that keeps a reproducible sample O(n) at
    100 TB."""
    plan = physical_plan(CATALOG["q77_digest_sample"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan

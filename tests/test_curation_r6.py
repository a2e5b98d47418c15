"""Round-6 curation operators: URL canonical dedup, unigram LM
scoring, cross-source near-dup matrix (their catalog twins q79-q81
are oracle-certified by test_catalog_oracle.py; these pin the
operator semantics on hand-built frames where the answer is obvious).
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from serverless_podcast_etl_spark.functions.urls import (
    canonical_url,
    dedup_by_canonical_url,
)
from serverless_podcast_etl_spark.functions.textstats import (
    unigram_frequency_scores,
)
from serverless_podcast_etl_spark.operators.dedup import (
    cross_source_neardup_matrix,
)


def _canon(spark, url: str) -> str:
    return (
        spark.createDataFrame([(url,)], "url string")
        .select(canonical_url(F.col("url")).alias("c"))
        .first()["c"]
    )


def test_canonical_url_normalizations(spark):
    # case, www, fragment, tracking params, trailing slash all collapse
    assert (
        _canon(spark, "HTTPS://WWW.Ex.COM/A/b/?utm_source=x&fbclid=1#frag")
        == "https://ex.com/A/b"
    )
    # non-tracking params survive, sorted; path case is PRESERVED
    assert (
        _canon(spark, "http://ex.com/p?z=1&a=2&utm_campaign=c")
        == "http://ex.com/p?a=2&z=1"
    )
    # bare host, no path/query
    assert _canon(spark, "https://Ex.Com") == "https://ex.com"
    # tracking-only query leaves no '?'
    assert _canon(spark, "https://ex.com/p/?gclid=9") == "https://ex.com/p"
    # 'ref' is tracking; 'refresh' is NOT (anchored prefix match)
    assert (
        _canon(spark, "https://ex.com/p?ref=a&refresh=1")
        == "https://ex.com/p?refresh=1"
    )


def test_dedup_by_canonical_url_keeps_best(spark):
    df = spark.createDataFrame(
        [
            # three variants of one page: keep id=2 (longest fetch)
            Row(id=1, q=100, url="https://www.ex.com/p/1?utm_source=a"),
            Row(id=2, q=300, url="https://ex.com/p/1#frag"),
            Row(id=3, q=200, url="HTTPS://ex.com/p/1/"),
            # quality tie: keep the LOWEST id (4, not 5)
            Row(id=4, q=50, url="https://ex.com/p/2"),
            Row(id=5, q=50, url="https://ex.com/p/2/"),
            # singleton survives untouched
            Row(id=6, q=10, url="https://ex.com/p/3"),
        ]
    )
    out = {
        r["canonical_url"]: (r["id"], r["n_dups"])
        for r in dedup_by_canonical_url(
            df, url_col="url", id_col="id", quality_col="q"
        ).collect()
    }
    assert out == {
        "https://ex.com/p/1": (2, 3),
        "https://ex.com/p/2": (4, 2),
        "https://ex.com/p/3": (6, 1),
    }


def test_unigram_scores_rank_rare_docs_higher(spark):
    # 'common' appears 8x, 'rare' once: the rare-token doc must carry
    # a higher mean inverse frequency, and every n_tokens is exact
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="common common common common"),
            Row(doc_id=2, text="common common common rare"),
        ]
    )
    rows = {
        r["doc_id"]: r
        for r in unigram_frequency_scores(
            df, text_col="text", id_col="doc_id"
        ).collect()
    }
    assert rows[1]["n_tokens"] == 4 and rows[2]["n_tokens"] == 4
    assert rows[2]["mean_inv_freq"] > rows[1]["mean_inv_freq"]
    # closed form: N=8, V=2; doc1 = (8+2)/(7+1) = 1.25
    assert rows[1]["mean_inv_freq"] == 1.25
    # logprob is the conventional (negative) LM score, rarer = lower
    assert rows[2]["avg_logprob"] < rows[1]["avg_logprob"] < 0


def test_cross_source_matrix_unordered_and_counted(spark):
    pairs = spark.createDataFrame(
        [
            Row(id_a=1, id_b=2, jaccard=0.9),   # A-B
            Row(id_a=3, id_b=4, jaccard=0.5),   # B-A -> same cell
            Row(id_a=1, id_b=5, jaccard=0.4),   # A-A within-source
        ]
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="A"),
            Row(doc_id=2, source="B"),
            Row(doc_id=3, source="B"),
            Row(doc_id=4, source="A"),
            Row(doc_id=5, source="A"),
        ]
    )
    out = {
        (r["source_a"], r["source_b"]): (r["n_pairs"], r["max_jaccard"])
        for r in cross_source_neardup_matrix(
            pairs, docs, id_col="doc_id", source_col="source"
        ).collect()
    }
    # both orientations of A/B land in the same (A, B) cell
    assert out == {("A", "B"): (2, 0.9), ("A", "A"): (1, 0.4)}


def test_cross_source_matrix_broadcasts_pair_list(spark):
    """Scale pin: the corpus side must never be shuffled — the pair
    list is broadcast into it (both joins are BroadcastHashJoins)."""
    pairs = spark.createDataFrame([Row(id_a=1, id_b=2, jaccard=0.9)])
    docs = spark.createDataFrame(
        [Row(doc_id=1, source="A"), Row(doc_id=2, source="B")]
    )
    plan = (
        cross_source_neardup_matrix(
            pairs, docs, id_col="doc_id", source_col="source"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_ivf_index_partition_pruning(spark, sf_dir, tmp_path):
    """The production ANN shape: index written partitionBy(cluster),
    probe scans ONLY probed partitions (static PartitionFilters from
    the bounded probed-cells collect), and results are identical to
    probing the in-memory index."""
    from serverless_podcast_etl_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe_topk,
    )
    from serverless_podcast_etl_spark.plans.catalog import _SEM_CENTROIDS
    from serverless_podcast_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    index = build_ivf_index(emb, id_col="vec_id", centroids=_SEM_CENTROIDS)
    path = str(tmp_path / "ivf_index")
    index.write.partitionBy("cluster").parquet(path)

    queries = emb.filter(F.col("vec_id") < 5)
    mem = ivf_probe_topk(
        queries, index, _SEM_CENTROIDS, query_id="vec_id"
    )
    disk_index = spark.read.parquet(path)
    disk = ivf_probe_topk(
        queries, disk_index, _SEM_CENTROIDS, query_id="vec_id",
    )
    assert sorted(map(tuple, mem.collect())) == sorted(
        map(tuple, disk.collect())
    )
    # the scan carries a non-empty partition filter on cluster —
    # probed cells only, so a 100 TB index reads candidate-bounded IO
    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]")[0]
    assert "cluster" in pf and "IN" in pf.upper()


def test_contamination_fractions_threshold(spark):
    """Fraction = |shared n-grams| / |eval n-grams|; pairs below
    min_fraction are dropped, full containment scores 1.0."""
    from serverless_podcast_etl_spark.operators.dedup import (
        cross_corpus_overlap_fractions,
    )

    corpus = spark.createDataFrame(
        [
            # contains ALL of eval 100's trigrams -> frac 1.0
            Row(doc_id=1, text="a b c d"),
            # shares 1 of eval 101's 3 trigrams -> frac 0.3333
            Row(doc_id=2, text="p q r zz"),
            # shares nothing
            Row(doc_id=3, text="x y z w"),
        ]
    )
    evals = spark.createDataFrame(
        [
            Row(doc_id=100, text="a b c d"),      # 2 trigrams
            Row(doc_id=101, text="p q r s t"),    # 3 trigrams
        ]
    )
    out = {
        (r["doc_id"], r["eval_id"]): (
            r["n_shared_grams"], r["n_eval_grams"], r["overlap_frac"]
        )
        for r in cross_corpus_overlap_fractions(
            corpus, evals, text_col="text", id_col="doc_id",
            n=3, min_fraction=0.0,
        ).collect()
    }
    assert out == {(1, 100): (2, 2, 1.0), (2, 101): (1, 3, 0.3333)}
    # threshold drops the partial match
    gated = cross_corpus_overlap_fractions(
        corpus, evals, text_col="text", id_col="doc_id",
        n=3, min_fraction=0.5,
    ).collect()
    assert [(r["doc_id"], r["eval_id"]) for r in gated] == [(1, 100)]


def test_canonical_url_idempotent_and_total(spark):
    """canonical(canonical(u)) == canonical(u) for valid URLs; any
    non-http(s) input canonicalizes to NULL (total, never garbage)."""
    urls_ = [
        "HTTPS://WWW.Ex.COM/A/b/?utm_source=x&z=1&a=2#frag",
        "http://ex.com",
        "https://ex.com/p/?gclid=9",
        "https://sub.www-like.ex.com/Path/?b=2&a=1&ref=r",
        "https://ex.com/p?a=1&a=1",  # duplicate param survives twice
    ]
    df = spark.createDataFrame([(u,) for u in urls_], "url string")
    once = canonical_url(F.col("url"))
    rows = df.select(
        once.alias("c1"), canonical_url(once).alias("c2")
    ).collect()
    for r in rows:
        assert r["c1"] == r["c2"], r
    bad = spark.createDataFrame(
        [("ftp://ex.com/x",), ("not a url",), ("",)], "url string"
    )
    assert [
        r["c"] for r in bad.select(once.alias("c")).collect()
    ] == [None, None, None]


def test_dedup_by_canonical_url_null_singletons(spark):
    """Malformed URLs must NOT collapse into one NULL-keyed group."""
    df = spark.createDataFrame(
        [
            Row(id=1, q=10, url="oops"),
            Row(id=2, q=20, url="ftp://ex.com/a"),
            Row(id=3, q=30, url="https://ex.com/p"),
        ]
    )
    out = dedup_by_canonical_url(
        df, url_col="url", id_col="id", quality_col="q"
    ).collect()
    assert len(out) == 3  # two NULL singletons + one valid
    assert sorted(r["id"] for r in out) == [1, 2, 3]
    assert all(r["n_dups"] == 1 for r in out)


def test_deterministic_shuffle_shards_balanced(spark):
    """Shard sizes balanced to within one row; positions contiguous
    from 0 within each shard; same seed reproduces the identical
    permutation, a different seed changes it."""
    from serverless_podcast_etl_spark.operators.selection import (
        deterministic_shuffle,
    )

    df = spark.range(103).withColumnRenamed("id", "doc_id")
    out = deterministic_shuffle(
        df, id_col="doc_id", seed="s1", n_shards=4
    ).collect()
    assert sorted(r["global_idx"] for r in out) == list(range(1, 104))
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
    sizes = sorted(len(v) for v in by_shard.values())
    assert max(sizes) - min(sizes) <= 1 and sum(sizes) == 103
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    again = deterministic_shuffle(
        df, id_col="doc_id", seed="s1", n_shards=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = deterministic_shuffle(
        df, id_col="doc_id", seed="s2", n_shards=4
    ).collect()
    assert {r["doc_id"]: r["global_idx"] for r in out} != {
        r["doc_id"]: r["global_idx"] for r in other
    }


def test_snapshot_diff_semantics(spark):
    from serverless_podcast_etl_spark.operators.dedup import snapshot_diff

    old = spark.createDataFrame(
        [Row(doc_id=1, text="a"), Row(doc_id=2, text="b"),
         Row(doc_id=3, text="c")]
    )
    new = spark.createDataFrame(
        [Row(doc_id=1, text="a"), Row(doc_id=2, text="B!"),
         Row(doc_id=4, text="d")]
    )
    out = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(
            old, new, id_col="doc_id", text_col="text"
        ).collect()
    }
    # unchanged doc 1 is NOT emitted: output bounded by churn
    assert out == {2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_bucketed_join_no_shuffle(spark, sf_dir):
    """With both snapshots bucketed on the id, the full-outer join is
    bucket-to-bucket: zero hashpartitioning exchanges in the plan."""
    from serverless_podcast_etl_spark.operators.dedup import snapshot_diff
    from serverless_podcast_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.withColumn("text", F.concat("text", F.lit("!")))
    for snap, table in ((docs, "b_snap_old"), (new, "b_snap_new")):
        snap.write.mode("overwrite").format("parquet").bucketBy(
            8, "doc_id"
        ).sortBy("doc_id").saveAsTable(table)
    try:
        diff = snapshot_diff(
            spark.table("b_snap_old"), spark.table("b_snap_new"),
            id_col="doc_id", text_col="text",
        )
        plan = diff._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin FullOuter" in plan or "SortMergeJoin" in plan
        assert "hashpartitioning" not in plan
        assert diff.count() == docs.count()  # every doc changed
    finally:
        spark.sql("DROP TABLE IF EXISTS b_snap_old")
        spark.sql("DROP TABLE IF EXISTS b_snap_new")


# ---- round-6 late additions: line cleaning, mixture, suffix blocklist


def test_clean_lines_rules_and_order(spark):
    from serverless_podcast_etl_spark.functions.cleaning import clean_lines

    df = spark.createDataFrame(
        [
            (1, "first good line here\nSLOW shouty line drop\nok fine line too"),
            (2, "too short\nalso no"),
            (3, "only one survivor line\nx"),
        ],
        "doc_id long, text string",
    )
    out = clean_lines(
        df, "text", min_words=4, banned_substrings=("slow",), min_lines_kept=1
    ).orderBy("doc_id")
    rows = {r["doc_id"]: r for r in out.collect()}
    # banned match is case-insensitive; survivor order preserved
    assert rows[1]["text_clean"] == "first good line here\nok fine line too"
    assert rows[1]["n_lines_kept"] == 2 and rows[1]["n_lines_dropped"] == 1
    assert 2 not in rows  # no line reaches min_words
    assert rows[3]["n_lines_kept"] == 1
    # min_lines_kept gate drops whole documents
    gated = clean_lines(
        df, "text", min_words=4, banned_substrings=("slow",), min_lines_kept=2
    )
    assert [r["doc_id"] for r in gated.collect()] == [1]


def test_clean_lines_literal_separator_escaped(spark):
    from serverless_podcast_etl_spark.functions.cleaning import clean_lines

    # "." is a regex metachar; a literal separator must not split on
    # every character
    df = spark.createDataFrame(
        [(1, "one two three four.five six seven eight")],
        "doc_id long, text string",
    )
    out = clean_lines(df, "text", min_words=4, line_sep=".").collect()
    assert out[0]["n_lines_kept"] == 2
    assert out[0]["text_clean"] == "one two three four.five six seven eight"


def test_materialize_mixture_counts_and_determinism(spark):
    from serverless_podcast_etl_spark.operators.selection import (
        materialize_mixture,
    )

    df = spark.createDataFrame(
        [(i, "s_whole" if i < 10 else "s_half" if i < 30 else "s_drop", "t")
         for i in range(40)],
        "doc_id long, source string, text string",
    )
    out = materialize_mixture(
        df, "source", "doc_id", {"s_whole": 2.0, "s_half": 0.5}
    )
    per = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # integer factor is exact: every s_whole doc exactly twice
    assert per["s_whole"] == 20
    # fractional factor keeps a digest-chosen subset, one copy each
    assert 0 < per.get("s_half", 0) < 20
    assert "s_drop" not in per
    half = out.filter(F.col("source") == "s_half")
    assert half.agg(F.max("copy_idx")).first()[0] == 1
    # deterministic: a second run is bit-identical
    again = materialize_mixture(
        df, "source", "doc_id", {"s_whole": 2.0, "s_half": 0.5}
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )
    # fractional-upsample branch: f=1.5 gives every doc 1 or 2 copies
    up = materialize_mixture(df, "source", "doc_id", {"s_half": 1.5})
    c = {r["doc_id"]: r["n"] for r in
         up.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert set(c.values()) <= {1, 2} and len(c) == 20


def test_suffix_blocklist_semantics(spark):
    from serverless_podcast_etl_spark.functions.urls import (
        domain_suffixes,
        filter_blocked_domain_suffixes,
    )

    chain = (
        spark.createDataFrame([("a.b.example.com",)], "d string")
        .select(domain_suffixes(F.col("d")).alias("s"))
        .first()["s"]
    )
    assert chain == ["a.b.example.com", "b.example.com", "example.com", "com"]

    docs = spark.createDataFrame(
        [
            (1, "x https://cdn.bad.com/z y"),     # subdomain of entry
            (2, "x http://bad.com y"),            # exact entry
            (3, "x https://notbad.com y"),        # sibling, NOT a suffix
            (4, "no urls here"),                  # passes through
            (5, "x https://bad.com.evil.io y"),   # entry is not a suffix
        ],
        "doc_id long, text string",
    )
    bl = spark.createDataFrame([("bad.com",)], "domain string")
    kept = filter_blocked_domain_suffixes(docs, "text", "doc_id", bl)
    assert sorted(r["doc_id"] for r in kept.collect()) == [3, 4, 5]


def test_suffix_blocklist_broadcasts_blocklist(spark):
    from serverless_podcast_etl_spark.functions.urls import (
        filter_blocked_domain_suffixes,
    )

    docs = spark.createDataFrame(
        [(i, f"see https://h{i}.example.com/p") for i in range(50)],
        "doc_id long, text string",
    )
    bl = spark.createDataFrame([("example.org",)], "domain string")
    plan = filter_blocked_domain_suffixes(
        docs, "text", "doc_id", bl
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_top_share_per_group_boundary_and_empty_group(spark):
    from serverless_podcast_etl_spark.operators.selection import (
        top_share_per_group,
    )

    rows = [
        # group a: costs 4,3,2,1 (total 10, share .5 -> cum 4,7 kept? no:
        # 4 <= 5 kept, 7 > 5 dropped) — boundary below
        ("a", 1, 4), ("a", 2, 3), ("a", 3, 2), ("a", 4, 1),
        # group b: costs 5,5 (total 10) — cum 5 == share*total kept
        # (inclusive), cum 10 dropped
        ("b", 1, 5), ("b", 2, 5),
        # group c: first row alone exceeds the share -> keeps nothing
        ("c", 1, 9), ("c", 2, 1),
    ]
    df = spark.createDataFrame(rows, "g string, id long, cost long")
    kept = top_share_per_group(
        df, group_col="g", cost_col="cost",
        order_cols=[F.col("id")], share=0.5,
    )
    got = sorted((r["g"], r["id"]) for r in kept.collect())
    assert got == [("a", 1), ("b", 1)]
    row = kept.filter(F.col("g") == "b").first()
    assert row["cum_cost"] == 5 and row["group_total"] == 10


def test_suppress_repeated_events_semantics(spark):
    from serverless_podcast_etl_spark.operators.windows import (
        suppress_repeated_events,
    )

    rows = [
        # u1: chain of same-type events each 5 min apart — every link
        # within the 10-min gap of its PREVIOUS ROW collapses, first
        # survives
        (1, 1, "click", "2024-01-01 00:00:00"),
        (2, 1, "click", "2024-01-01 00:05:00"),
        (3, 1, "click", "2024-01-01 00:10:00"),
        # type change breaks the chain
        (4, 1, "view", "2024-01-01 00:12:00"),
        # same type again but 11 min after the previous row -> kept
        (5, 1, "view", "2024-01-01 00:23:00"),
        # exact boundary: gap == max_gap counts as duplicate
        (6, 1, "view", "2024-01-01 00:33:00"),
        # other user unaffected
        (7, 2, "click", "2024-01-01 00:06:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    kept = suppress_repeated_events(
        df, key_cols=["user_id"], dedup_cols=["event_type"],
        ts_col="ts", order_cols=[F.col("ts"), F.col("event_id")],
        max_gap_seconds=600,
    )
    assert sorted(r["event_id"] for r in kept.collect()) == [1, 4, 5, 7]


def test_quantile_bins_boundaries_and_nulls(spark):
    from serverless_podcast_etl_spark.operators.selection import quantile_bins

    # scores 1..8: quartile boundaries (type-7) at 2.75, 4.5, 6.25
    rows = [(i, float(i)) for i in range(1, 9)] + [(99, None)]
    df = spark.createDataFrame(rows, "id long, score double")
    out = {r["id"]: r["bucket"] for r in
           quantile_bins(df, "score").collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 2, 7: 3, 8: 3, 99: None}
    # boundary tie is inclusive-below: a score exactly at q1 bins low
    df2 = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0, 0, 0, 10])],
        "id long, score double",
    )
    out2 = {r["id"]: r["bucket"] for r in
            quantile_bins(df2, "score").collect()}
    assert out2[0] == 0 and out2[3] == 3


def test_clean_lines_idempotent(spark, sf_dir):
    """Cleaning a cleaned document is a no-op: every surviving line
    already satisfies the rules, so a second pass keeps everything."""
    from serverless_podcast_etl_spark.functions.cleaning import clean_lines
    from serverless_podcast_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" merge "), F.lit("\n")).alias("text"),
    )
    once = clean_lines(
        docs, "text", min_words=4, banned_substrings=("slow",),
        min_lines_kept=2,
    ).select("doc_id", F.col("text_clean").alias("text"))
    twice = clean_lines(
        once, "text", min_words=4, banned_substrings=("slow",),
        min_lines_kept=2,
    )
    assert twice.filter(F.col("n_lines_dropped") > 0).count() == 0
    assert twice.count() == once.count()


def test_materialize_mixture_size_is_exact_sum(spark):
    """Output size equals the per-doc copy-count sum exactly — the
    explode realizes floor(f) + digest-extra per doc, nothing more."""
    from serverless_podcast_etl_spark.operators.selection import (
        _digest_bound,
        materialize_mixture,
    )
    import hashlib

    factors = {"sA": 2.25, "sB": 0.75}
    rows = [(i, "sA" if i % 2 == 0 else "sB") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out_n = materialize_mixture(
        df, "source", "doc_id", factors, seed="sz"
    ).count()
    expected = 0
    for i, src in rows:
        f = factors[src]
        whole, frac = int(f), f - int(f)
        digest = hashlib.md5(f"sz:{src}:{i}".encode()).hexdigest()[:6]
        expected += whole + (1 if frac > 0 and digest < _digest_bound(frac) else 0)
    assert out_n == expected


def test_suppress_repeated_events_ntz_dst_and_null_payload(spark):
    """Review-found edges pinned: (a) TIMESTAMP_NTZ gaps are
    WALL-CLOCK (timestamp_diff), not session-zone converted — an
    event pair spanning a DST spring-forward in the session zone is
    61.5 real minutes apart and must be kept; (b) two consecutive
    NULL payloads ARE duplicates (null-safe equality, matching the
    oracle's IS DISTINCT FROM)."""
    from serverless_podcast_etl_spark.operators.windows import (
        suppress_repeated_events,
    )

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.createDataFrame(
            [
                (1, 1, "click", "2024-03-10 01:59:00"),
                (2, 1, "click", "2024-03-10 03:00:30"),  # 61.5 wall min
                (3, 2, None, "2024-01-01 00:00:00"),
                (4, 2, None, "2024-01-01 00:05:00"),     # null==null dup
            ],
            "event_id long, user_id long, event_type string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        kept = suppress_repeated_events(
            df, key_cols=["user_id"], dedup_cols=["event_type"],
            ts_col="ts", order_cols=[F.col("ts"), F.col("event_id")],
            max_gap_seconds=600,
        )
        assert sorted(r["event_id"] for r in kept.collect()) == [1, 2, 3]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_quantile_bins_empty_and_all_null(spark):
    from serverless_podcast_etl_spark.operators.selection import quantile_bins

    empty = spark.createDataFrame([], "id long, score double")
    assert quantile_bins(empty, "score").count() == 0
    nulls = spark.createDataFrame([(1, None), (2, None)], "id long, score double")
    out = quantile_bins(nulls, "score").collect()
    assert [r["bucket"] for r in out] == [None, None]


def test_funnel_conversion_ordering_and_boundary(spark):
    from serverless_podcast_etl_spark.operators.funnels import (
        funnel_conversion,
    )

    rows = [
        # u1: purchase exactly at the window edge -> converts
        (1, "signup", "2024-01-01 00:00:00"),
        (2, "purchase", "2024-01-01 01:00:00"),
        # u2: purchase BEFORE the first signup only -> no conversion
        (3, "purchase", "2024-01-02 00:00:00"),
        (4, "signup", "2024-01-02 01:00:00"),
        # u3: signs up, purchases too late
        (5, "signup", "2024-01-03 00:00:00"),
        (6, "purchase", "2024-01-03 02:00:01"),
        # u4: purchase only (never entered the funnel)
        (7, "purchase", "2024-01-04 00:00:00"),
    ]
    df = spark.createDataFrame(
        [(eid, (eid + 1) // 2 if eid < 7 else 4, t, ts)
         for eid, t, ts in rows],
        "event_id long, user_id long, event_type string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = funnel_conversion(
        df, user_col="user_id", type_col="event_type", ts_col="ts",
        step_a="signup", step_b="purchase", within_seconds=3600,
    ).first()
    assert out["n_step_a"] == 3
    assert out["n_converted"] == 1
    assert out["conversion_rate"] == 0.3333


def test_retention_cohorts_cells(spark):
    from serverless_podcast_etl_spark.operators.funnels import (
        retention_cohorts,
    )

    rows = [
        # u1 first event week 0; active weeks 0 and 2
        (1, "2024-01-02 10:00:00"),
        (1, "2024-01-16 10:00:00"),
        # u2 first event week 1; active week 1 only (two events)
        (2, "2024-01-09 09:00:00"),
        (2, "2024-01-10 09:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["cohort_week"], r["week_offset"]): r["n_active_users"]
        for r in retention_cohorts(df, "user_id", "ts").collect()
    }
    assert out == {(0, 0): 1, (0, 2): 1, (1, 0): 1}

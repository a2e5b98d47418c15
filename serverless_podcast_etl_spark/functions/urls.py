"""URL and domain curation: extraction, domain statistics, blocklist
gating — the C4-style provenance filters of a pretraining pipeline.

All JVM-side regexp (codegen'd; runs over every document).  As with
``pii``, patterns are restricted to syntax with identical semantics in
Java regex (Spark) and RE2 (DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Group 1 captures the host; path is optional.
URL_PATTERN = r"https?://([A-Za-z0-9.-]+)(/[^\s]*)?"


def extracted_domains(text: Column) -> Column:
    """array<string> of every URL's host, in order of appearance."""
    return F.regexp_extract_all(text, F.lit(URL_PATTERN), 1)


def domain_histogram(
    df: DataFrame,
    text_col: str,
    blocklist: list[str] | None = None,
) -> DataFrame:
    """Corpus-level domain statistics: one row per distinct domain with
    its URL count and blocklist membership — the artifact a curation
    run reviews before choosing domain filters.

    Extraction is in-row; the only shuffle is the map-side-combinable
    count on the (small) domain key.
    """
    blocked = (
        F.col("domain").isin(*blocklist) if blocklist else F.lit(False)
    )
    return (
        df.select(F.explode(extracted_domains(F.col(text_col))).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_urls"))
        .select("domain", "n_urls", blocked.alias("blocked"))
    )


# Tracking parameters stripped during canonicalization (the
# RefinedWeb/CCNet-style URL-dedup first stage drops these before
# comparing URLs — they vary per click, not per page).  (?i) because
# query-param NAMES get upper-cased by the same emitters that
# upper-case hosts — 'UTM_SOURCE=a' must not survive while scheme and
# host canonicalize case-insensitively; values keep their case.
TRACKING_PARAM_PATTERN = r"(?i)^(utm_[^=]*|fbclid|gclid|ref)="


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL for identity comparison: lowercase
    scheme and host, strip a leading ``www.``, drop the fragment,
    remove tracking query parameters (``utm_*``/``fbclid``/``gclid``/
    ``ref``), sort surviving parameters, and trim trailing slashes
    from the path.

    Pure in-row string expressions (codegen'd; zero shuffles) with an
    exact DuckDB twin in the catalog oracle — regex syntax is
    restricted to the Java-regex ∩ RE2 subset, like ``pii``.

    Total over malformed input: anything that does not start with
    ``http(s)://`` canonicalizes to NULL (queryable, never a garbage
    partial string — the same total-function contract as the
    multimodal decoder's ``bad:`` markers).  Idempotent on its own
    output (canonical(canonical(u)) == canonical(u), pinned by
    ``test_canonical_url_idempotent``).
    """
    # (?i) on the scheme prefix: 'HTTPS://HOST/Path' must still parse
    # (scheme+host are case-insensitive per RFC 3986; path is NOT)
    defrag = F.regexp_replace(url, r"#.*", "")
    scheme = F.lower(F.regexp_extract(defrag, r"(?i)^(https?)://", 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(defrag, r"(?i)^https?://([^/?#]+)", 1)),
        r"^www\.",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract(defrag, r"(?i)^https?://[^/?#]*([^?#]*)", 1),
        r"/+$",
        "",
    )
    query = F.regexp_extract(defrag, r"\?([^#]*)", 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_PATTERN),
            )
        ),
        "&",
    )
    return F.when(
        url.rlike(r"(?i)^https?://"),
        F.concat(
            scheme,
            F.lit("://"),
            host,
            path,
            F.when(params != "", F.concat(F.lit("?"), params)).otherwise(
                F.lit("")
            ),
        ),
    )


def dedup_by_canonical_url(
    df: DataFrame,
    url_col: str,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """URL-level exact dedup, keep-best: canonicalize every URL in-row,
    then keep ONE document per canonical URL — the highest
    ``quality_col``, ties broken by lowest ``id_col`` (deterministic).

    The first dedup stage of a web-crawl curation pipeline (same page
    fetched via tracking links, mobile hosts, fragments).  Scale shape:
    canonicalization is in-row; the only shuffle is the hash partition
    on ``canonical_url`` for the per-key window, which runs parallel
    across keys and never materializes pairs.  Output is one row per
    distinct canonical URL with the kept id and the group size.

    Rows whose URL does not canonicalize (``canonical_url`` NULL —
    see ``canonical_url``'s totality contract) pass through as
    singletons: a shared NULL key must never glue unrelated malformed
    rows into one dedup group.
    """
    from pyspark.sql import Window

    canon = df.select(
        F.col(id_col),
        F.col(quality_col),
        canonical_url(F.col(url_col)).alias("canonical_url"),
    )
    valid = canon.filter(F.col("canonical_url").isNotNull())
    w = Window.partitionBy("canonical_url").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    deduped = (
        valid.select(
            "canonical_url",
            F.col(id_col),
            F.col(quality_col),
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("canonical_url"))
            .alias("n_dups"),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    passthrough = canon.filter(F.col("canonical_url").isNull()).select(
        "canonical_url",
        F.col(id_col),
        F.col(quality_col),
        F.lit(1).cast("long").alias("n_dups"),
    )
    return deduped.unionByName(passthrough)


def domain_suffixes(domain: Column) -> Column:
    """array<string> of a host's dot-suffix chain, most-specific
    first: ``a.b.example.com`` → ``[a.b.example.com, b.example.com,
    example.com, com]``.  In-row (split + transform over positions);
    length is the label depth (~2-5), never data volume."""
    parts = F.split(domain, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
    )


def filter_blocked_domain_suffixes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    blocklist: DataFrame,
) -> DataFrame:
    """Documents whose extracted URLs match NO blocklist entry under
    SUFFIX semantics: an entry ``example.org`` blocks ``example.org``
    and every subdomain (``m1.example.org``), the way UT1/adult-site
    blocklists are specified.  The wildcard match is turned into a
    plain equi-join — each document's hosts expand in-row to their
    dot-suffix chains (bounded by label depth), and one broadcast
    join against the blocklist finds the violators; no LIKE scan, no
    cartesian.  The corpus shuffles at most once, in the final
    anti-join on the id — planned sort-merge because the violator
    count is data-dependent (a broad blocklist can flag most of a
    crawl), with AQE converting it to broadcast at runtime whenever
    the violator set turns out small.

    ``blocklist`` is a DataFrame (``domain`` = bare domain) so
    real multi-million-entry lists work: Spark broadcasts it (or, past
    broadcast size, AQE falls back to a shuffle join on the exploded
    suffix — still an equi-join).  For a handful of literal domains,
    an in-plan ``isin`` over ``extracted_domains`` is the cheaper form.
    """
    suffixes = df.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        extracted_domains(F.col(text_col)),
                        domain_suffixes,
                    )
                )
            )
        ).alias("_suffix"),
    )
    blocked_ids = (
        suffixes.join(
            F.broadcast(
                blocklist.select(F.col("domain").alias("_suffix"))
            ),
            "_suffix",
            "inner",
        )
        .select(id_col)
        .distinct()
    )
    return df.join(blocked_ids, id_col, "left_anti")

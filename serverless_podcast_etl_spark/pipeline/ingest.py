"""M1 — metadata ingest: feeds + RSS docs → warehouse dimensions.

Spark-first re-expression of src/lambda_2.py: nested RSS structs are
exploded (P6), pubDates parsed permissively (F4), the time dimension
derived and deduped (F5/F6/A4), podcast/episode dims upserted with
INSERT IGNORE semantics (A7), and episode FKs resolved by joining
back against the podcast dim on the natural key (J1) — the Spark
equivalent of the reference's write → read-back-generated-ids → write
sequence (src/lambda_2.py:222-230).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions import dates
from ..operators.joins import dim_lookup_join
from .warehouse import Warehouse

# XML-parse schema for raw RSS documents (S5; src/lambda_2.py:168-171
# uses requests + xmltodict).  Spark's native from_xml maps XML
# attributes with a '_' prefix, so enclosure/@url arrives as `_url`
# and is renamed to the canonical RSS_DOC shape afterwards.
RSS_XML_SCHEMA = StructType(
    [
        StructField(
            "channel",
            StructType(
                [
                    StructField("title", StringType()),
                    StructField("description", StringType()),
                    StructField(
                        "item",
                        ArrayType(
                            StructType(
                                [
                                    StructField("title", StringType()),
                                    StructField("description", StringType()),
                                    StructField("pubDate", StringType()),
                                    StructField(
                                        "enclosure",
                                        StructType(
                                            [StructField("_url", StringType())]
                                        ),
                                    ),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        )
    ]
)


def parse_rss_xml(df: DataFrame) -> DataFrame:
    """Raw RSS XML strings → RSS_DOC-shaped structs (S5), fully
    JVM-side via ``from_xml`` — no xmltodict, no Python in the loop.
    Malformed documents parse to null structs (PERMISSIVE mode), the
    same swallow-don't-crash posture as F4 date parsing.
    """
    p = F.from_xml(F.col("xml"), RSS_XML_SCHEMA)
    chan = p["channel"]
    rebuilt = F.struct(
        F.struct(
            F.struct(
                chan["title"].alias("title"),
                chan["description"].alias("description"),
                F.transform(
                    chan["item"],
                    lambda i: F.struct(
                        i["title"].alias("title"),
                        i["description"].alias("description"),
                        i["pubDate"].alias("pubDate"),
                        F.struct(i["enclosure"]["_url"].alias("url")).alias(
                            "enclosure"
                        ),
                    ),
                ).alias("item"),
            ).alias("channel")
        ).alias("rss")
    )
    return df.select(rebuilt["rss"].alias("rss"))


def fetch_rss_docs(feeds: DataFrame) -> DataFrame:
    """Feed URLs → parsed RSS structs: the fetch front of S5
    (src/lambda_2.py:160-171 — ``requests.get`` per feed, then
    xmltodict), composed as ``sources.fetch.fetch_urls`` (default
    transport) → ``parse_rss_xml``.

    Unfetchable feeds (transport error, null URL) and malformed XML
    both degrade to null structs that ``parse_rss_docs`` drops —
    byte-for-byte the staged-ingest posture, so the downstream
    pipeline is IDENTICAL whether feeds arrive staged or live.  The
    binary→string cast decodes UTF-8 leniently (replacement chars),
    never throwing on a hostile feed."""
    from ..sources.fetch import fetch_urls

    fetched = fetch_urls(feeds, "feed")
    return parse_rss_xml(
        fetched.withColumn("xml", F.col("body").cast("string"))
    )


def parse_rss_docs(rss_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """RSS documents → (podcast rows, episode rows).

    ``rss_docs`` carries the parsed RSS struct (schemas.RSS_DOC).
    Podcast projection per src/lambda_2.py:173-177; episode explode
    per src/lambda_2.py:179-189 — enclosure url, RFC-2822 pubDate
    (null on parse failure, :112-114), title, description.
    """
    chan = F.col("rss.channel")
    podcasts = (
        rss_docs.select(
            chan["title"].alias("podcast_title"),
            chan["description"].alias("description"),
        )
        # malformed feeds parse to null structs (PERMISSIVE from_xml);
        # drop them rather than crash — same posture as F4 dates
        .filter(F.col("podcast_title").isNotNull())
        .dropDuplicates(["podcast_title"])
    )

    episodes = (
        rss_docs.select(
            chan["title"].alias("podcast_title"),
            F.explode(chan["item"]).alias("item"),
        )
        .select(
            "podcast_title",
            F.col("item.enclosure.url").alias("link"),
            F.to_date(dates.parse_rfc2822(F.col("item.pubDate"))).alias(
                "episode_release_date"
            ),
            F.col("item.title").alias("episode_title"),
            F.col("item.description").alias("episode_description"),
        )
        .filter(F.col("link").isNotNull())
        .dropDuplicates(["link"])
    )
    return podcasts, episodes


def ingest_metadata(wh: Warehouse, rss_docs: DataFrame) -> dict[str, int]:
    """Full metadata load (the lambda_2 stage), idempotent end-to-end.

    Returns per-table appended-row counts.  Re-running with the same
    input appends zero rows everywhere (the INSERT IGNORE contract).
    """
    podcasts, episodes = parse_rss_docs(rss_docs)

    # time dimension from release dates (src/lambda_2.py:192-202)
    time_rows = dates.time_dimension(episodes, "episode_release_date")
    n_time = wh.insert_ignore("time_dimension", time_rows)

    # podcast dim: insert_ignore assigns podcast_id (AUTO_INCREMENT, SURVEY §7.4.1)
    n_podcast = wh.insert_ignore("podcast_dimension", podcasts)

    # episode dim: resolve podcast FK by natural-key join against the
    # re-read dim (the reference's read-back of AUTO_INCREMENT ids,
    # src/lambda_2.py:222-230, as a broadcast join — J1)
    pod_dim = wh.read("podcast_dimension").select("podcast_title", "podcast_id")
    eps = dim_lookup_join(episodes, pod_dim, on="podcast_title").drop("podcast_title")
    eps = eps.withColumn("downloaded", F.lit(False)).withColumn(
        "num_chunks", F.lit(0)
    )
    n_episode = wh.insert_ignore("episode_dimension", eps)

    return {
        "time_dimension": n_time,
        "podcast_dimension": n_podcast,
        "episode_dimension": n_episode,
    }

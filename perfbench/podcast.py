"""The ``dashboard`` workload and the loader that preloads its
warehouse.

Untraced, the loader calls the program exactly as a deployment would:
the runner's fused plans (``parse_rss_xml`` → ``ingest_metadata``,
``run_transcription`` → ``run_nlp``).  Traced, it calls the same public
stage functions one at a time, each inside its own span, and forces
every stage's output with an eager ``localCheckpoint`` so that its work
executes inside its span; construct and execute phases are recorded
separately.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from serverless_podcast_etl_spark.pipeline import (
    analytics,
    ingest,
    nlp,
    runner,
    transcripts,
)
from serverless_podcast_etl_spark.pipeline.ml_udfs import entities_udf, sentiment_udf
from serverless_podcast_etl_spark.pipeline.warehouse import Warehouse

from . import checks, gen
from .loop import closed_loop
from .trace import BENCH_PREFIX

AUDIO_SCHEMA = "episode_id long, content binary"
PARTITIONED = ["episode_id"]


class TracedWarehouse(Warehouse):
    """A ``Warehouse`` whose public methods each run inside a span; the
    write methods also list the warehouse directory before and after."""

    def __init__(self, spark, root, tracer):
        super().__init__(spark, root)
        self.tr = tracer

    def read(self, table):
        with self.tr.span("warehouse.read"):
            return super().read(table)

    def insert_ignore(self, table, incoming, partition_by=None):
        if not self.tr.enabled:
            return super().insert_ignore(table, incoming, partition_by)
        with self.tr.span(BENCH_PREFIX + "count"):
            offered = incoming.count()
        with self.tr.span("warehouse.insert_ignore", watch=self.root):
            n = super().insert_ignore(table, incoming, partition_by)
        self.tr.count("warehouse.insert_ignore.calls", 1)
        self.tr.count("warehouse.rows_offered", offered)
        self.tr.count("warehouse.rows_appended", n)
        return n

    def update_rows(self, table, updates, keys, partition_by=None):
        with self.tr.span("warehouse.update_rows", watch=self.root):
            return super().update_rows(table, updates, keys, partition_by)

    def next_surrogate_base(self, table, id_col):
        with self.tr.span("warehouse.next_surrogate_base"):
            return super().next_surrogate_base(table, id_col)


class Loader:
    """Loads feeds and audio into a warehouse, fused or stage by stage."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tr = tracer

    def warehouse(self, root: str) -> Warehouse:
        if self.tr.requested:
            return TracedWarehouse(self.spark, root, self.tr)
        return Warehouse(self.spark, root)

    def feeds(self, corpus: gen.Corpus):
        return self.spark.createDataFrame([(x,) for x in corpus.feeds_xml], "xml string")

    def audio(self, episodes):
        return self.spark.createDataFrame(
            [(e.episode_id, e.content) for e in episodes], AUDIO_SCHEMA
        )

    def metadata(self, wh, feeds, request=None) -> dict[str, int]:
        if not self.tr.enabled:
            return ingest.ingest_metadata(wh, ingest.parse_rss_xml(feeds))
        with self.tr.scope(request):
            docs = self._stage("ingest.parse_rss_xml", lambda: ingest.parse_rss_xml(feeds))
            with self.tr.span(BENCH_PREFIX + "count"):
                n_feeds = feeds.count()
                parsed = docs.filter(F.col("rss.channel.title").isNotNull()).count()
            self.tr.count("ingest.malformed_feeds_dropped", n_feeds - parsed)
            with self.tr.span("ingest.ingest_metadata"):
                counts = ingest.ingest_metadata(wh, docs)
        self.tr.count("ingest.rows_out", sum(counts.values()))
        return counts

    def transcribe_and_nlp(self, wh, audio, request=None) -> dict[str, int]:
        if not self.tr.enabled:
            tr_df = runner.run_transcription(wh, audio, chunk_bytes=gen.CHUNK_BYTES)
            return runner.run_nlp(wh, tr_df)
        with self.tr.scope(request):
            return self._traced_transcribe_and_nlp(wh, audio)

    def _stage(self, name, build):
        """One layer call: construct its DataFrame, then execute it with
        an eager local checkpoint, both inside the span."""
        with self.tr.span(name) as rec:
            t0 = time.perf_counter()
            df = build()
            t1 = self.tr.phase(rec, "construct_s", t0)
            df = df.localCheckpoint(eager=True)
            self.tr.phase(rec, "execute_s", t1)
        return df

    def _count(self, df) -> int:
        with self.tr.span(BENCH_PREFIX + "count"):
            return df.count()

    def _traced_transcribe_and_nlp(self, wh, audio):
        """``run_transcription`` + ``run_nlp`` split into their public
        stage calls; the glue between stages mirrors the runner's."""
        st, n = self._stage, self._count
        chunks = st(
            "transcripts.chunk_audio",
            lambda: transcripts.chunk_audio(audio, chunk_bytes=gen.CHUNK_BYTES),
        )
        self.tr.count("transcripts.chunks", n(chunks))
        expected = chunks.select("episode_id", "num_chunks").distinct()
        wh.update_rows(
            "episode_dimension",
            expected.select(
                "episode_id",
                F.lit(True).alias("downloaded"),
                F.col("num_chunks").cast("int").alias("num_chunks"),
            ),
            keys=["episode_id"],
        )
        payloads = st(
            "transcripts.transcribe_chunks",
            lambda: transcripts.transcribe_chunks(chunks),
        )
        tr_df = st(
            "transcripts.reduce_transcripts",
            lambda: transcripts.reduce_transcripts(payloads, expected),
        )
        self.tr.count(
            "transcripts.held_back_episodes",
            n(transcripts.incomplete_episodes(payloads, expected)),
        )
        sentences = st(
            "transcripts.transcript_sentences",
            lambda: transcripts.transcript_sentences(tr_df),
        )
        n_sentences = n(sentences)
        sent_lines = st(
            "ml_udfs.sentiment",
            lambda: sentences.select(
                "episode_id",
                F.col("sentence_index").alias("line_index"),
                sentiment_udf(F.col("sentence_text")).alias("r"),
            ).select(
                "episode_id",
                "line_index",
                F.col("r.Sentiment").alias("Sentiment"),
                F.col("r.SentimentScore").alias("SentimentScore"),
            ),
        )
        sentence_rows = st(
            "nlp.align_sentiment",
            lambda: nlp.build_sentence_dim(nlp.align_sentiment(sentences, sent_lines)),
        )
        n_sent = wh.insert_ignore("sentence_dimension", sentence_rows, partition_by=PARTITIONED)

        doc_text = sentences.groupBy("episode_id").agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("sentence_index").alias("o"),
                                F.col("sentence_text").alias("t"),
                            )
                        )
                    ),
                    lambda x: x["t"],
                ),
            ).alias("document")
        )
        n_docs = n(doc_text)
        ents = st(
            "ml_udfs.entities",
            lambda: doc_text.select(
                "episode_id", F.explode(entities_udf(F.col("document"))).alias("e")
            ).select(
                "episode_id",
                F.col("e.Text").alias("Text"),
                F.col("e.Type").alias("Type"),
                F.col("e.BeginOffset").alias("BeginOffset"),
                F.col("e.EndOffset").alias("EndOffset"),
            ),
        )
        self.tr.count("ml_udfs.rows_in", n_sentences + n_docs)
        entity_rows = st(
            "nlp.align_entities",
            lambda: nlp.build_entity_dim(
                nlp.align_entities(ents, nlp.sentence_spans(sentences))
            ),
        )
        self.tr.count("nlp.entities_in", n(ents))
        self.tr.count(
            "nlp.entities_aligned",
            n(entity_rows.filter(F.col("sentence_index").isNotNull())),
        )
        n_ent = wh.insert_ignore("entity_dimension", entity_rows, partition_by=PARTITIONED)
        return {"sentence_dimension": n_sent, "entity_dimension": n_ent}


# click order of the dashboard: (function, tables it reads, call)
DASHBOARD = [
    ("distinct_podcasts", ("podcast_dimension",),
     lambda t, s: analytics.distinct_podcasts(t[0])),
    ("episodes_newest_first", ("episode_dimension",),
     lambda t, s: analytics.episodes_newest_first(t[0], s["podcast_id"])),
    ("next_undownloaded_episode", ("episode_dimension", "podcast_dimension"),
     lambda t, s: analytics.next_undownloaded_episode(t[0], t[1], s["podcast_title"])),
    ("distinct_entity_types", ("entity_dimension",),
     lambda t, s: analytics.distinct_entity_types(t[0], s["episode_id"])),
    ("entity_mention_counts", ("entity_dimension",),
     lambda t, s: analytics.entity_mention_counts(t[0], s["episode_id"], s["entity_type"])),
    ("sentiment_distribution", ("entity_dimension", "sentence_dimension"),
     lambda t, s: analytics.sentiment_distribution(t[0], t[1], s["episode_id"], s["entity_type"])),
    ("sentiment_timeseries", ("sentence_dimension",),
     lambda t, s: analytics.sentiment_timeseries(t[0], s["episode_id"])),
    ("entity_sentiment_proportions", ("entity_dimension", "sentence_dimension"),
     lambda t, s: analytics.entity_sentiment_proportions(t[0], t[1], s["episode_id"], s["entity_type"])),
    ("episode_word_frequencies", ("sentence_dimension",),
     lambda t, s: analytics.episode_word_frequencies(t[0], s["episode_id"])),
]


class Dashboard:
    """Read-only dashboard sessions over a warehouse preloaded with
    hundreds of episode partitions.  Each session runs the 9 analytics
    functions in click order, reading the tables afresh per query and
    collecting every result to the driver; one operation is one query.

    The preloaded warehouse is a bulk load (a backfill) of a corpus made
    from a fixed seed, so that it can be built once per version of the
    program and of this benchmark and kept in the cache: on a 4-core
    machine the bulk load alone takes about a minute, more than one run
    can afford.  ``--seed`` picks the sessions and the trickle message.
    A traced run does not use the cache: its preload is the traced
    backfill."""

    n_podcasts, episodes_per_podcast, sentences, share = 12, 25, (20, 40), 0.67
    corpus_seed = 0

    def __init__(self, spark, tracer, seed, work, cache):
        self.spark, self.tr = spark, tracer
        self.loader = Loader(spark, tracer)
        self.seed = seed
        self.root = os.path.join(work, "warehouse")
        self.base = os.path.join(cache, "warehouse")
        self.problems: list[str] = []
        self.build_problems: list[str] = []

    def load(self) -> dict:
        """Input generation and the preload: a copy of the cached
        warehouse (built first if missing) or, traced, the backfill."""
        self.corpus = gen.make_corpus(
            self.corpus_seed, self.n_podcasts, self.episodes_per_podcast, self.sentences
        )
        self.loaded = gen.preload_split(self.corpus, self.share)
        self.sessions = gen.dashboard_sessions(self.seed, self.corpus, self.loaded, 100)
        if self.tr.requested:
            self.wh = self.loader.warehouse(self.root)
            self.backfill(self.wh, "preload")
        else:
            if not os.path.isdir(self.base):
                self.build_base()
            shutil.copytree(self.base, self.root)
            self.wh = Warehouse(self.spark, self.root)
        return {
            "episodes": len(self.corpus.episodes),
            "preloaded_episodes": len(self.loaded),
            **self.corpus.expected_counts(self.loaded),
        }

    def backfill(self, wh, request=None) -> dict[str, int]:
        """A bulk load of every feed and of the preloaded episodes'
        audio; returns the rows appended to each table."""
        ld = self.loader
        counts = ld.metadata(wh, ld.feeds(self.corpus), request)
        audio = ld.audio([self.corpus.by_id[i] for i in self.loaded])
        counts.update(ld.transcribe_and_nlp(wh, audio, request))
        return counts

    def build_base(self) -> None:
        """The backfill into an empty warehouse, then a second pass of
        the same inputs, which must append 0 rows.  A warehouse that
        fails either check is used for this run but not kept."""
        tmp = self.base + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        wh = Warehouse(self.spark, tmp)
        first = self.backfill(wh)
        again = self.backfill(wh)
        bad = [f"backfill: {m}" for m in checks.counts_mismatch(
            first, self.corpus.expected_counts(self.loaded))]
        bad += [f"backfill second pass: {m}" for m in checks.counts_mismatch(
            again, dict.fromkeys(first, 0))]
        if bad:
            self.build_problems = bad
            self.base = tmp
        else:
            os.replace(tmp, self.base)

    def warm_up(self) -> None:
        for q in DASHBOARD:
            self.query(q, "warm-up", self.sessions[-1])

    def query(self, q, req, session):
        name, tables, call = q
        with self.tr.span(f"analytics.{name}", req) as rec:
            t0 = time.perf_counter()
            df = call([self.wh.read(t) for t in tables], session)
            t1 = self.tr.phase(rec, "construct_s", t0)
            rows = df.collect()
            self.tr.phase(rec, "execute_s", t1)
        self.tr.count("analytics.rows_returned", len(rows))
        return rows

    def run(self, seconds) -> dict:
        results = []

        def op(batch, i):
            session = self.sessions[batch % len(self.sessions)]
            rows = self.query(DASHBOARD[i], f"session-{batch}", session)
            results.append((DASHBOARD[i][0], session, rows))

        out = closed_loop(len(DASHBOARD), seconds, op)
        out["failed"] = self.check(results)
        return out

    def trace_extras(self) -> dict:
        """The trickle write path, traced, after every dashboard run so
        that those read the preloaded warehouse: one message picks the
        next episode of a seeded podcast through
        ``analytics.next_undownloaded_episode`` and loads it, as the
        trigger does; then the same episode is delivered again and must
        append 0 rows.  One operation is one message."""
        title = gen.trickle_podcast(self.seed, self.corpus, self.loaded)
        want = gen.next_undownloaded(self.corpus, title, set(self.loaded))
        episode = self.corpus.by_id[want]
        wh, ld = self.wh, self.loader
        t0 = time.perf_counter()
        with self.tr.span("analytics.next_undownloaded_episode", "trickle-fresh"):
            picked = analytics.next_undownloaded_episode(
                wh.read("episode_dimension"), wh.read("podcast_dimension"), title
            ).collect()
        fresh = ld.transcribe_and_nlp(wh, ld.audio([episode]), "trickle-fresh")
        t1 = time.perf_counter()
        again = ld.transcribe_and_nlp(wh, ld.audio([episode]), "trickle-redelivery")
        t2 = time.perf_counter()

        own = {
            "sentence_dimension": len(episode.sentences),
            "entity_dimension": len(episode.entities),
        }
        bad_fresh = [f"trickle: {m}" for m in checks.counts_mismatch(fresh, own)]
        if [r["episode_id"] for r in picked] != [want]:
            bad_fresh.append(f"trickle: selector picked {picked}, expected episode {want}")
        bad_fresh += checks.episode_contents(self.root, self.corpus, [want])
        bad_again = [
            f"trickle re-delivery: {m}"
            for m in checks.counts_mismatch(again, dict.fromkeys(own, 0))
        ]
        bad_again += checks.counts_on_disk(
            self.root, self.corpus.expected_counts(self.loaded + [want])
        )
        self.problems += bad_fresh + bad_again
        return {
            "ops_s": [t1 - t0, t2 - t1],
            "batches_s": [t2 - t0],
            "failed": bool(bad_fresh) + bool(bad_again),
        }

    def check(self, results) -> int:
        """Failed queries: each answer against its SQL twin; a preload
        that does not match the generator fails every query."""
        preload = list(self.build_problems)
        preload += checks.counts_on_disk(self.root, self.corpus.expected_counts(self.loaded))
        preload += checks.episode_contents(self.root, self.corpus, self.loaded)
        self.problems += preload
        oracle = checks.DashboardOracle(self.root)
        failed = 0
        for name, session, rows in results:
            bad = oracle.compare(name, session, rows)
            failed += bool(bad or preload)
            self.problems += bad
        oracle.close()
        return failed

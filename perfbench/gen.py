"""Seeded input generator for the benchmark workloads.

Everything the program receives is made here from the seed: raw RSS
XML feeds (with unparseable ``pubDate``s and one malformed feed),
text-as-audio that splits into several chunks per episode, the
Zipf-skewed ``dashboard`` sessions, the podcast of the traced trickle
message (and its re-delivery), and the ``curation`` corpus (a seeded
variant of the sf0.1 ``documents``/``embeddings`` tables).

The generator also predicts what a correct program must produce: the
surrogate ids the warehouse assigns, the row count of every dimension
(entities via ``ml_udfs.fake_entities``) and each episode's sentences
and entities.  The checks in ``checks.py`` compare the program's
outputs against these predictions.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from serverless_podcast_etl_spark.functions.text import sentence_split
from serverless_podcast_etl_spark.pipeline.ml_udfs import fake_entities

WORDS = (
    "game season player coach team trade draft score win loss quarter "
    "defense offense league playoff contract injury record stadium fans "
    "market rookie bench roster signing week tonight history camp film"
).split()
NAMES = [
    "Alice Johnson", "Bob Smith", "Carol Davis", "Tom Brady", "Dana White",
    "Eli Manning", "Frank Ocean", "Grace Hopper", "Henry Ford", "Iris Chang",
    "Jack Ryan", "Kate Bush", "Leo Messi", "Mia Hamm", "New York",
    "San Francisco", "Green Bay", "Kansas City", "The Ringer", "Super Bowl",
]
BAD_PUBDATES = ["not-a-date", "2023-13-45", "yesterday", "Mon, 99 Foo 2023"]
DOW = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
MON = [
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
]
MALFORMED_FEED = "<rss><channel><title>Broken Feed</title><item><title>x"
CHUNK_BYTES = 256


@dataclass
class Episode:
    link: str
    podcast_title: str
    release_date: dt.date | None
    content: bytes
    sentences: list[str]
    entities: list[dict]
    episode_id: int = 0
    podcast_id: int = 0


@dataclass
class Corpus:
    """Feeds, audio and the warehouse state they must produce."""

    feeds_xml: list[str]
    episodes: list[Episode]
    podcast_ids: dict[str, int]
    n_dates: int
    malformed_feeds: int
    by_id: dict[int, Episode] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.by_id = {e.episode_id: e for e in self.episodes}

    def expected_counts(self, episode_ids) -> dict[str, int]:
        """Rows each dimension holds after metadata ingest plus
        transcription of ``episode_ids``."""
        eps = [self.by_id[i] for i in episode_ids]
        return {
            "time_dimension": self.n_dates,
            "podcast_dimension": len(self.podcast_ids),
            "episode_dimension": len(self.episodes),
            "sentence_dimension": sum(len(e.sentences) for e in eps),
            "entity_dimension": sum(len(e.entities) for e in eps),
        }


def _sentence(rng: random.Random) -> str:
    words = rng.choices(WORDS, k=rng.randint(5, 12))
    for _ in range(rng.choice([0, 1, 1, 2])):
        words[rng.randrange(len(words))] = rng.choice(NAMES)
    s = " ".join(words) + rng.choice([".", ".", ".", "?", "!"])
    return s[0].upper() + s[1:]


def transcribed(content: bytes, chunk_bytes: int = CHUNK_BYTES) -> str:
    """The transcript the pipeline builds from ``content``: fixed-size
    chunks, each 'transcribed' verbatim, joined in order with one
    space (``reduce_transcripts``)."""
    chunks = [
        content[i : i + chunk_bytes] for i in range(0, len(content), chunk_bytes)
    ]
    return " ".join(c.decode("utf-8") for c in chunks)


def make_corpus(
    seed: int, n_podcasts: int, episodes_per_podcast: int, sentences: tuple
) -> Corpus:
    """RSS XML feeds plus per-episode text-as-audio.

    About one ``pubDate`` in twelve is unparseable; one extra feed is
    truncated XML and must be dropped by the ingest."""
    rng = random.Random(seed)
    epoch = dt.date(2022, 1, 1)
    feeds, episodes, dates = [], [], set()
    titles = []
    for p in range(n_podcasts):
        title = f"{rng.choice(NAMES)} {rng.choice(WORDS).title()} Show {p:03d}"
        titles.append(title)
        items = []
        for i in range(episodes_per_podcast):
            link = f"https://cdn.example.com/s{seed}/p{p:03d}/e{i:04d}.mp3"
            if rng.random() < 1 / 12:
                pub, day = rng.choice(BAD_PUBDATES), None
            else:
                day = epoch + dt.timedelta(days=rng.randrange(3 * 365))
                pub = (
                    f"{DOW[day.weekday()]}, {day.day:02d} {MON[day.month - 1]} "
                    f"{day.year} {rng.randrange(24):02d}:30:00 +0000"
                )
                dates.add(day)
            text = " ".join(
                _sentence(rng) for _ in range(rng.randint(*sentences))
            )
            content = text.encode("ascii")
            sents = sentence_split(transcribed(content))
            episodes.append(
                Episode(
                    link=link,
                    podcast_title=title,
                    release_date=day,
                    content=content,
                    sentences=sents,
                    entities=fake_entities("\n".join(sents)),
                )
            )
            items.append(
                f"<item><title>Episode {i} of {title}</title>"
                f"<description>{' '.join(rng.choices(WORDS, k=8))}</description>"
                f"<pubDate>{pub}</pubDate>"
                f'<enclosure url="{link}" length="1" type="audio/mpeg"/></item>'
            )
        feeds.append(
            f"<rss><channel><title>{title}</title>"
            f"<description>About {title}</description>{''.join(items)}"
            "</channel></rss>"
        )
    feeds.insert(rng.randrange(len(feeds) + 1), MALFORMED_FEED)
    # surrogate ids: row_number over the natural key, base 1, one batch
    podcast_ids = {t: i + 1 for i, t in enumerate(sorted(titles))}
    for i, e in enumerate(sorted(episodes, key=lambda e: e.link)):
        e.episode_id = i + 1
        e.podcast_id = podcast_ids[e.podcast_title]
    return Corpus(feeds, episodes, podcast_ids, len(dates), malformed_feeds=1)


def preload_split(corpus: Corpus, share: float) -> list[int]:
    """Episodes transcribed during set-up: each podcast's oldest
    ``share``; the newer ones stay undownloaded."""
    loaded = []
    for title in corpus.podcast_ids:
        eps = sorted(
            (e for e in corpus.episodes if e.podcast_title == title),
            key=_release_order,
        )
        k = int(len(eps) * share)
        loaded += [e.episode_id for e in eps[:k]]
    return loaded


def _release_order(e: Episode):
    """Oldest first; unparseable dates sort before every real one."""
    return (e.release_date is not None, e.release_date or dt.date.min, e.episode_id)


def next_undownloaded(corpus: Corpus, title: str, downloaded) -> int:
    """The episode the download selector must pick for ``title``: the
    newest not yet downloaded, undated ones last, ties to the higher id."""
    eps = [
        e for e in corpus.episodes
        if e.podcast_title == title and e.episode_id not in downloaded
    ]
    return max(eps, key=_release_order).episode_id


def trickle_podcast(seed: int, corpus: Corpus, loaded: list[int]) -> str:
    """The podcast whose next episode the traced trickle message
    downloads: a seeded pick among those with one left to download."""
    done = set(loaded)
    titles = sorted(
        t for t in corpus.podcast_ids
        if any(e.podcast_title == t and e.episode_id not in done for e in corpus.episodes)
    )
    return random.Random(seed * 17 + 3).choice(titles)


def zipf_index(rng: np.random.Generator, n: int, s: float = 1.2) -> int:
    w = 1.0 / np.arange(1, n + 1) ** s
    return int(rng.choice(n, p=w / w.sum()))


def dashboard_sessions(
    seed: int, corpus: Corpus, loaded: list[int], n: int
) -> list[dict]:
    """``n`` dashboard sessions, each a Zipf-skewed (podcast, loaded
    episode, entity type) pick; ranks are shuffled by the seed so the
    hot keys differ between seeds."""
    rng = np.random.default_rng(seed * 31 + 5)
    loaded_set = set(loaded)
    titles = sorted(corpus.podcast_ids)
    rng.shuffle(titles)
    per_pod = {
        t: sorted(
            e.episode_id
            for e in corpus.episodes
            if e.podcast_title == t and e.episode_id in loaded_set
        )
        for t in titles
    }
    for eps in per_pod.values():
        rng.shuffle(eps)
    titles = [t for t in titles if per_pod[t]]
    out = []
    for _ in range(n):
        t = titles[zipf_index(rng, len(titles))]
        eid = per_pod[t][zipf_index(rng, len(per_pod[t]))]
        types = sorted({x["Type"] for x in corpus.by_id[eid].entities})
        rng.shuffle(types)
        out.append(
            {
                "podcast_title": t,
                "podcast_id": corpus.podcast_ids[t],
                "episode_id": eid,
                "entity_type": types[zipf_index(rng, len(types))] if types else "PERSON",
            }
        )
    return out


CURATION_WORDS = sorted(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def write_curation_tables(
    seed: int, out_dir: str, n_docs: int, n_vecs: int
) -> dict[str, int]:
    """A seeded variant of the sf0.1 ``documents``/``embeddings``
    tables, at ``n_docs`` documents and ``n_vecs`` vectors: 5%
    near-duplicates (a copy of another document with
    `` dup`` appended), a few exact duplicates, five languages, 20
    sources, and unit-norm 64-d float embeddings with 10 labels."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n_docs)
    texts = [
        " ".join(CURATION_WORDS[i] for i in rng.integers(0, 30, k)) for k in lens
    ]
    ids = rng.permutation(n_docs)
    near, exact = ids[: n_docs // 20], ids[n_docs // 20 : n_docs // 20 + 8]
    for i in near:
        texts[i] = texts[int(rng.integers(n_docs))] + " dup"
    for i in exact:
        texts[i] = texts[int(rng.integers(n_docs))]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(LANGS, n_docs, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs}

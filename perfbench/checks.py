"""Output checks, run outside the timed spans.

The warehouse is read back with DuckDB straight from its parquet files,
so a check never goes through the code it checks: row counts against
the generator's predictions, each loaded episode's sentences and
entities, the dashboard's answers against SQL twins of the 9
``analytics`` functions, and the curation results against the
catalog's own DuckDB oracles.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import pickle
from collections import Counter
from decimal import Decimal

import duckdb
import numpy as np

from serverless_podcast_etl_spark.pipeline.analytics import WORDCLOUD_STOPWORDS

from . import gen

TABLES = [
    "time_dimension",
    "podcast_dimension",
    "episode_dimension",
    "sentence_dimension",
    "entity_dimension",
]


def percentile(values, q: float) -> float:
    return float(np.percentile(values, 100 * q))


def counts_mismatch(got: dict, want: dict) -> list[str]:
    return [
        f"{t}: {got.get(t)} rows appended, expected {n}"
        for t, n in want.items()
        if got.get(t) != n
    ]


def warehouse_db(root: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(root, t)
        if os.path.isdir(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{path}/**/*.parquet', hive_partitioning = true)"
            )
    return con


def counts_on_disk(root: str, want: dict) -> list[str]:
    con = warehouse_db(root)
    got = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in want}
    con.close()
    return [f"on disk {m}" for m in counts_mismatch(got, want)]


def episode_contents(root: str, corpus: gen.Corpus, ids: list[int]) -> list[str]:
    """Each episode in ``ids`` holds exactly its own sentences and
    entities, and is marked downloaded with its chunk count."""
    con = warehouse_db(root)
    id_list = ", ".join(str(i) for i in ids)
    sents, ents, state = {}, {}, {}
    for eid, idx, text in con.execute(
        "SELECT episode_id, sentence_index, sentence_text FROM sentence_dimension "
        f"WHERE episode_id IN ({id_list}) ORDER BY 1, 2"
    ).fetchall():
        sents.setdefault(eid, []).append((idx, text))
    for eid, *ent in con.execute(
        "SELECT episode_id, begin_offset, entity_text, entity_type "
        f"FROM entity_dimension WHERE episode_id IN ({id_list})"
    ).fetchall():
        ents.setdefault(eid, Counter())[tuple(ent)] += 1
    for eid, *st in con.execute(
        "SELECT episode_id, downloaded, num_chunks FROM episode_dimension "
        f"WHERE episode_id IN ({id_list})"
    ).fetchall():
        state[eid] = tuple(st)
    con.close()
    out = []
    for eid in ids:
        e = corpus.by_id[eid]
        if sents.get(eid, []) != list(enumerate(e.sentences)):
            out.append(f"episode {eid}: sentences differ")
        want = Counter((x["BeginOffset"], x["Text"], x["Type"]) for x in e.entities)
        if ents.get(eid, Counter()) != want:
            out.append(f"episode {eid}: entities differ")
        chunks = math.ceil(len(e.content) / gen.CHUNK_BYTES)
        if state.get(eid) != (True, chunks):
            out.append(f"episode {eid}: state {state.get(eid)}, expected (True, {chunks})")
    return out


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _close(a, b, tol: float) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=tol)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, tol) for x, y in zip(a, b))
    return a == b


def rows_match(got, want, ordered: bool, tol: float) -> bool:
    """Row lists equal up to ``tol`` on floats; unordered results are
    compared after sorting on their rounded values."""
    got = [tuple(_norm(v) for v in r) for r in got]
    want = [tuple(_norm(v) for v in r) for r in want]
    if len(got) != len(want):
        return False
    if not ordered:
        key = lambda r: repr(tuple(round(v, 3) if isinstance(v, float) else v for v in r))  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(_close(a, b, tol) for a, b in zip(got, want))


_STOP = ", ".join(f"'{w}'" for w in WORDCLOUD_STOPWORDS)
_ENTS = "(SELECT * FROM entity_dimension WHERE entity_type = $etype AND episode_id = $eid)"
_SHARE = "round(avg({c}) / (avg(positive_score) + avg(neutral_score) + avg(negative_score)), 4)"
# SQL twin of each analytics function: (sql, result is ordered)
DASHBOARD_SQL = {
    "distinct_podcasts": (
        "SELECT DISTINCT podcast_title, podcast_id FROM podcast_dimension", False),
    "episodes_newest_first": (
        "SELECT episode_title, episode_id, episode_release_date FROM episode_dimension "
        "WHERE podcast_id = $pid ORDER BY episode_release_date DESC NULLS LAST, episode_id",
        True),
    "next_undownloaded_episode": (
        "SELECT e.episode_id, link, episode_title, episode_release_date, e.podcast_id "
        "FROM episode_dimension e JOIN podcast_dimension p ON e.podcast_id = p.podcast_id "
        "WHERE p.podcast_title = $ptitle AND NOT downloaded "
        "ORDER BY episode_release_date DESC NULLS LAST, e.episode_id DESC LIMIT 1", True),
    "distinct_entity_types": (
        "SELECT DISTINCT entity_type FROM entity_dimension WHERE episode_id = $eid", False),
    "entity_mention_counts": (
        f"SELECT entity_text, count(*) AS n FROM {_ENTS} GROUP BY entity_text "
        "ORDER BY n DESC, entity_text", True),
    "sentiment_distribution": (
        f"SELECT s.overall_sentiment, count(*) FROM {_ENTS} e LEFT JOIN sentence_dimension s "
        "ON s.sentence_index = e.sentence_index AND s.episode_id = e.episode_id "
        "GROUP BY 1", False),
    "sentiment_timeseries": (
        "SELECT episode_id, sentence_index, positive_score - negative_score, "
        "avg(positive_score - negative_score) OVER (PARTITION BY episode_id "
        "ORDER BY sentence_index ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) "
        "FROM sentence_dimension WHERE episode_id = $eid", False),
    "entity_sentiment_proportions": (
        "SELECT entity_text, "
        + ", ".join(
            _SHARE.format(c=c)
            for c in ("positive_score", "neutral_score", "negative_score")
        )
        + f" FROM {_ENTS} e LEFT JOIN sentence_dimension s "
        "ON s.sentence_index = e.sentence_index AND s.episode_id = e.episode_id "
        "GROUP BY entity_text", False),
    "episode_word_frequencies": (
        "SELECT word, count(*) AS n FROM (SELECT unnest(string_split_regex("
        "lower(sentence_text), '\\s+')) AS word FROM sentence_dimension "
        f"WHERE episode_id = $eid) WHERE word <> '' AND word NOT IN ({_STOP}) "
        "GROUP BY word ORDER BY n DESC, word", True),
}


class DashboardOracle:
    """Answers each dashboard query with its SQL twin over the
    warehouse parquet, once per distinct argument set."""

    def __init__(self, root: str):
        self.con = warehouse_db(root)
        self.cache: dict = {}

    def compare(self, name: str, session: dict, rows) -> list[str]:
        sql, ordered = DASHBOARD_SQL[name]
        params = {
            "pid": session["podcast_id"],
            "ptitle": session["podcast_title"],
            "eid": session["episode_id"],
            "etype": session["entity_type"],
        }
        params = {k: v for k, v in params.items() if f"${k}" in sql}
        key = (name, tuple(sorted(params.items())))
        if key not in self.cache:
            self.cache[key] = self.con.execute(sql, params).fetchall()
        if rows_match(rows, self.cache[key], ordered, tol=1.01e-4):
            return []
        return [f"dashboard {name}{key[1]}: {len(rows)} rows differ from SQL"]

    def close(self) -> None:
        self.con.close()


def oracle_rows(sql: str, data_dir: str, tables: list[str]) -> tuple[list[str], list]:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def cached_oracle(sqls: dict, data_dir: str, tables: list[str], cache_dir: str) -> dict:
    """``oracle_rows`` of every query, reused from ``cache_dir`` when
    the same SQL already ran over byte-identical input files."""
    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    for name in sorted(sqls):
        h.update(f"{name}\0{sqls[name]}\0".encode())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:32]}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    out = {name: oracle_rows(sql, data_dir, tables) for name, sql in sqls.items()}
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def same_result(s_cols, s_rows, o_cols, o_rows) -> bool:
    """Catalog-oracle comparison: same column names, and the same
    multiset of rows with columns taken in name order."""
    if sorted(s_cols) != sorted(o_cols) or len(s_rows) != len(o_rows):
        return False

    def bag(cols, rows):
        order = [cols.index(c) for c in sorted(cols)]
        return Counter(
            tuple(
                round(v, 9) if isinstance(v, float) else v
                for v in (_norm(r[i]) for i in order)
            )
            for r in rows
        )

    return bag(s_cols, s_rows) == bag(o_cols, o_rows)

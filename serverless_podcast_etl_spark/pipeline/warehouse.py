"""Parquet-backed warehouse with INSERT IGNORE append semantics.

The reference's warehouse is MySQL with UNIQUE-key INSERT IGNORE
(src/lambda_2.py:205-238); ours is parquet directories with anti-join
dedup before every append — the same idempotency contract, columnar.
A real deployment would swap the format for Delta/Iceberg and the
anti-join for MERGE; the interface here is format-agnostic.

Commit log.  Every table directory holds its parquet files in the
usual hive layout plus one JSON entry per committed version,
``<table>/_log/00000001.json``, ``00000002.json``, ….  An entry records

* ``layout``: the table's partition columns (``[]`` = flat).  The
  first entry pins it; a write whose ``partition_by`` differs raises
  (mixed layouts in one directory break partition pruning);
* ``add``: the parquet files the commit adds, each with its path
  relative to the table directory (a copied warehouse stays valid),
  rows, bytes and partition values;
* ``remove``: the relative paths of the files it drops.

The snapshot at version ``v`` is the replay of entries ``1..v``: the
set of live files.  Nothing is ever inferred from directory names.

Writes.  A writer writes its rows under ``<root>/_staging/``, moves
the files into the table directory under their fresh names, then
creates entry ``v+1``, where ``v`` is the version it read.  The create
is exclusive: the entry is written to a temporary file and hard-linked
to its final name, which, like ``O_CREAT|O_EXCL``, fails if the name
exists, and never shows a reader a half-written entry.  So of two
writers (any processes, any ``Warehouse`` instances) that read the same
version, exactly one commits; the other deletes its files and redoes
its operation against the new snapshot (INSERT IGNORE re-runs its
anti-join), giving up with ``CommitConflict`` after ``MAX_ATTEMPTS``.
Right after its entry lands the writer deletes the files the entry
removed (vacuum-on-commit): between writes the parquet files on disk
are exactly the latest snapshot, so a plain-parquet reader (DuckDB over
``**/*.parquet``) sees what ``read`` sees.  ``update_rows`` writes the
merged rows as new files and removes the files they replace in one
commit, so a reader sees either the old rows or the new ones, never
neither.

Crashes.  A writer that raises before its entry lands deletes its own
files.  A writer killed in that window leaves them behind as orphans:
readers of the warehouse never see them (no entry names them) and a
re-delivery appends its rows exactly once, but a plain-parquet reader
does see them, as it sees the files of a removed version whose writer
died before vacuuming.  A DataFrame opened on an older snapshot loses
the files a later ``update_rows`` removed — there is no retention
window, and none is planned: no caller keeps a DataFrame across a
commit, and vacuum-on-commit is what keeps plain-parquet readers exact.

Reads.  ``read`` finds the latest version with one ``listdir`` of
``_log`` and returns the DataFrame it already opened for that version.
That DataFrame is built once, from the snapshot's file list with the
declared schema and ``basePath`` (partition columns come from the file
paths): no directory walk, partition discovery or schema inference, and
queries filtered on a partition column read only that partition's
files.  A commit from anywhere bumps the version; the next ``read``
opens the table again.

Fact-scale path: ``insert_ignore``/``update_rows`` take a
``partition_by=`` mode (e.g. ``["episode_id"]``) that keeps the table
hive-partitioned and touches ONLY the partitions present in the
incoming batch — their files are picked from the snapshot, so a
one-episode load against a 100 TB sentence/entity table reads and
rewrites one partition, not the table.  The reference's sentence/
entity loads (src/lambda_71.py:103-121, src/lambda_2.py:205-238) are
exactly this shape: every batch targets a single episode.

Surrogate keys: for the tables in ``schemas.SURROGATE_IDS``,
``insert_ignore`` emulates ``AUTO_INCREMENT`` inside the commit: a new
row's id is its rank in natural-key order plus the snapshot's max id
(SURVEY §7.4.1), so a writer that loses the race re-ranks against the
winner's snapshot and concurrent writers hand out distinct ids.  The
rank is taken in one partition: fine for dimension tables (podcasts,
episodes — thousands of rows), NOT for fact-scale data; fact tables
(sentence/entity) key on natural composite keys instead.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import uuid
from dataclasses import dataclass, field
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..operators.aggregates import dedup_insert

DIM_SCHEMAS = {
    "time_dimension": schemas.TIME_DIM,
    "podcast_dimension": schemas.PODCAST_DIM,
    "episode_dimension": schemas.EPISODE_DIM,
    "sentence_dimension": schemas.SENTENCE_DIM,
    "entity_dimension": schemas.ENTITY_DIM,
}

LOG_DIR = "_log"
STAGING_DIR = "_staging"
MAX_ATTEMPTS = 8
_ENTRY = re.compile(r"^(\d{8})\.json$")
# Spark's directory name for a null partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_OPEN_LOCK = threading.Lock()


class CommitConflict(RuntimeError):
    """A write lost the race for the next log version on every attempt."""


@dataclass(frozen=True)
class Snapshot:
    """A table at one committed version: its pinned partition layout
    (``None`` before the first commit) and its live files, keyed by
    path relative to the table directory."""

    version: int = 0
    layout: tuple[str, ...] | None = None
    files: dict[str, dict] = field(default_factory=dict)


class Warehouse:
    """A directory of parquet tables with idempotent appends."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._snapshots: dict[str, Snapshot] = {}
        self._frames: dict[str, tuple[int, DataFrame]] = {}

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _log_dir(self, table: str) -> str:
        return os.path.join(self.path(table), LOG_DIR)

    def _version(self, table: str) -> int:
        """The latest committed version: one ``listdir`` of the log."""
        try:
            names = os.listdir(self._log_dir(table))
        except FileNotFoundError:
            return 0
        return max(
            (int(m.group(1)) for m in map(_ENTRY.match, names) if m), default=0
        )

    def snapshot(self, table: str) -> Snapshot:
        """The latest snapshot, replaying only the entries committed
        since the last call."""
        version = self._version(table)
        snap = self._snapshots.get(table)
        if snap is None or snap.version > version:
            snap = Snapshot()
        if snap.version == version:
            return snap
        layout, files = snap.layout, dict(snap.files)
        for v in range(snap.version + 1, version + 1):
            with open(os.path.join(self._log_dir(table), f"{v:08d}.json")) as f:
                entry = json.load(f)
            layout = tuple(entry["layout"])
            for p in entry["remove"]:
                del files[p]
            for a in entry["add"]:
                files[a["path"]] = a
        snap = Snapshot(version, layout, files)
        self._snapshots[table] = snap
        return snap

    def _open(self, table: str, paths) -> DataFrame:
        """A DataFrame over exactly ``paths`` (relative to the table
        directory), in declared column order."""
        sch = DIM_SCHEMAS[table]
        if not paths:
            return self.spark.createDataFrame([], sch)
        base = self.path(table)
        # the log already names every file: stat them on the driver
        # rather than in a Spark job (which Spark launches for more than
        # the threshold's number of paths)
        with _OPEN_LOCK:
            conf = self.spark.conf
            prev = conf.get(_LISTING_THRESHOLD)
            conf.set(_LISTING_THRESHOLD, str(len(paths)))
            try:
                df = (
                    self.spark.read.schema(sch)
                    .option("basePath", base)
                    .parquet(*[os.path.join(base, p) for p in sorted(paths)])
                )
            finally:
                conf.set(_LISTING_THRESHOLD, prev)
        # partition columns come back last
        return df.select(*sch.fieldNames())

    def _frame(self, table: str, snap: Snapshot) -> DataFrame:
        cached = self._frames.get(table)
        if cached is None or cached[0] != snap.version:
            cached = (snap.version, self._open(table, snap.files))
            self._frames[table] = cached
        return cached[1]

    def read(self, table: str) -> DataFrame:
        return self._frame(table, self.snapshot(table))

    def _read_touched(
        self, table: str, snap: Snapshot, batch: DataFrame
    ) -> tuple[list[str], DataFrame]:
        """The snapshot's files in the partitions ``batch`` touches, and
        a DataFrame over them.  Touched values are collected
        driver-side: by the load pattern a batch targets a handful of
        episodes (the reference: exactly one per message), never the
        fact table's full key space."""
        if not snap.files:
            return [], self._open(table, [])
        cols = snap.layout
        touched = {
            tuple(_NULL_PARTITION if v is None else str(v) for v in r)
            for r in batch.select(*cols).distinct().collect()
        }
        paths = [
            p
            for p, f in snap.files.items()
            if tuple(f["partition"][c] for c in cols) in touched
        ]
        return paths, self._open(table, paths)

    def _stage(
        self, table: str, df: DataFrame, partition_by: list[str] | None
    ) -> list[dict]:
        """Write ``df`` as new files of ``table`` (not yet committed);
        returns their ``add`` records.  Empty files are dropped."""
        stage = os.path.join(self.root, STAGING_DIR, uuid.uuid4().hex)
        writer = df.write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        added: list[dict] = []
        try:
            writer.parquet(stage)
            for d, _, names in os.walk(stage):
                for name in names:
                    if not name.endswith(".parquet"):
                        continue
                    src = os.path.join(d, name)
                    rows = pq.read_metadata(src).num_rows
                    if not rows:
                        continue
                    rel = os.path.relpath(src, stage)
                    dst = os.path.join(self.path(table), rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.rename(src, dst)
                    added.append(
                        {
                            "path": rel,
                            "rows": rows,
                            "bytes": os.path.getsize(dst),
                            "partition": dict(
                                unquote(part).split("=", 1)
                                for part in rel.split("/")[:-1]
                            ),
                        }
                    )
        except BaseException:
            self._delete(table, [a["path"] for a in added])
            raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return added

    def _commit(
        self,
        table: str,
        version: int,
        layout: tuple[str, ...],
        added: list[dict],
        removed: list[str],
    ) -> None:
        """Create log entry ``version``; raises ``FileExistsError`` if
        another writer created it first."""
        log = self._log_dir(table)
        os.makedirs(log, exist_ok=True)
        tmp = os.path.join(log, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(
                {"layout": list(layout), "add": added, "remove": removed}, f
            )
        try:
            os.link(tmp, os.path.join(log, f"{version:08d}.json"))
        finally:
            os.remove(tmp)

    def _delete(self, table: str, paths: list[str]) -> None:
        for p in paths:
            try:
                os.remove(os.path.join(self.path(table), p))
            except FileNotFoundError:
                pass

    def _write(self, table: str, partition_by: list[str] | None, plan):
        """Run ``plan(snapshot) -> (rows to write | None, paths to
        remove, result)`` against the latest snapshot and commit its
        effect as the next version; on a lost race, run it again
        against the new snapshot.  Returns ``(result, rows added)``."""
        layout = tuple(partition_by or ())
        for _ in range(MAX_ATTEMPTS):
            snap = self.snapshot(table)
            if snap.layout is not None and snap.layout != layout:
                raise ValueError(
                    f"{table}: on-disk layout is partition_by="
                    f"{list(snap.layout) or None} but this write requested "
                    f"partition_by={list(layout) or None} — the first commit "
                    f"pins a table's layout; rewrite the table to change it"
                )
            df, removed, result = plan(snap)
            added = [] if df is None else self._stage(table, df, partition_by)
            if not added and not removed:
                return result, 0
            try:
                self._commit(table, snap.version + 1, layout, added, removed)
            except FileExistsError:
                self._delete(table, [a["path"] for a in added])
                continue
            except BaseException:
                self._delete(table, [a["path"] for a in added])
                raise
            self._delete(table, removed)
            return result, sum(a["rows"] for a in added)
        raise CommitConflict(
            f"{table}: lost the race for the next log version "
            f"{MAX_ATTEMPTS} times"
        )

    def insert_ignore(
        self,
        table: str,
        incoming: DataFrame,
        partition_by: list[str] | None = None,
    ) -> int:
        """Append rows whose natural key is new (INSERT IGNORE, A7).

        Returns the number of rows appended (from the commit's files).
        Re-delivery of the same batch is a no-op — the idempotency
        contract every stage of the reference relies on (FIFO dedup +
        INSERT IGNORE).

        A ``schemas.SURROGATE_IDS`` column gets its ids here, from the
        committed snapshot's max id; an id column on ``incoming`` is replaced.

        ``partition_by`` (fact-scale mode): keep the table
        hive-partitioned on those columns; the anti-join reads only
        the partitions the batch touches instead of the whole table.
        Must be a subset of the natural key (sentence/entity keys both
        include episode_id) — that containment is what makes the
        pruned anti-join equivalent to the full one.
        """
        keys = schemas.NATURAL_KEYS[table]
        id_col = schemas.SURROGATE_IDS.get(table)
        if partition_by:
            missing = [c for c in partition_by if c not in keys]
            if missing:
                raise ValueError(
                    f"insert_ignore(partition_by={partition_by}): "
                    f"{missing} not in natural key {keys} — pruned "
                    f"dedup would miss existing rows"
                )

        def plan(snap):
            if partition_by:
                _, existing = self._read_touched(table, snap, incoming)
            else:
                existing = self._frame(table, snap)
            fresh = dedup_insert(existing, incoming, keys)
            if id_col:
                top = self._frame(table, snap).agg(F.max(id_col)).first()[0]
                fresh = with_surrogate_key(fresh, id_col, keys, (top or 0) + 1)
            return fresh.select(*DIM_SCHEMAS[table].fieldNames()), [], None

        return self._write(table, partition_by, plan)[1]

    def update_rows(
        self,
        table: str,
        updates: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
    ) -> int:
        """Keyed column UPDATE (src/lambda_3.py:127-133's ``UPDATE …
        SET downloaded=TRUE, num_chunks=N``).

        Non-key columns of ``updates`` replace the stored values for
        matching keys; rows with no update and columns not present in
        ``updates`` are untouched (null update values keep the stored
        value).  Parquet has no in-place update, so this is read →
        merge → write new files, committed together with the removal
        of the files they replace; a production deployment swaps this
        for a Delta/Iceberg ``MERGE`` — the call signature is the
        contract.  Returns the number of matched (updated) rows; a
        batch that matches nothing commits nothing.

        Default mode rewrites the WHOLE table — dim-only (thousands of
        rows).  ``partition_by`` (fact-scale mode): only the files of
        the partitions the batch touches are read, merged, rewritten
        and removed — untouched partitions' files are never opened or
        replaced.  ``partition_by`` must be a subset of ``keys`` so
        every update row can only match rows inside its own partition.
        """
        if partition_by:
            missing = [c for c in partition_by if c not in keys]
            if missing:
                raise ValueError(
                    f"update_rows(partition_by={partition_by}): "
                    f"{missing} not in match keys {keys} — an update "
                    f"row could match rows outside its own partition"
                )
        upd_cols = [c for c in updates.columns if c not in keys]
        aliased = F.broadcast(
            updates.select(*keys, *[F.col(c).alias(f"_u_{c}") for c in upd_cols])
        )

        def plan(snap):
            if partition_by:
                paths, existing = self._read_touched(table, snap, updates)
            else:
                paths, existing = list(snap.files), self._frame(table, snap)
            n_matched = existing.join(aliased, keys, "left_semi").count()
            if not n_matched:
                return None, [], 0
            merged = existing.join(aliased, keys, "left")
            for c in upd_cols:
                merged = merged.withColumn(
                    c, F.coalesce(F.col(f"_u_{c}"), F.col(c))
                )
            merged = merged.select(*DIM_SCHEMAS[table].fieldNames())
            return merged, paths, n_matched

        return self._write(table, partition_by, plan)[0]


def with_surrogate_key(
    df: DataFrame,
    id_col: str,
    natural_order: list[str],
    base: int,
) -> DataFrame:
    """Deterministic AUTO_INCREMENT emulation (SURVEY §7.4.1).

    The row's rank in natural-key order plus ``base``, which
    ``Warehouse.insert_ignore`` sets to its snapshot's max id + 1 —
    reruns against the same snapshot produce identical ids.  All rows are
    sorted in one explicit partition, where
    ``monotonically_increasing_id`` is the row's position: the same ids
    as ``row_number`` over a global window, without that window's
    no-partition warning (Spark drops a constant window partition, so
    ``partitionBy(lit(0))`` still warns).  Dimension-scale only
    (documented; fact tables use composite natural keys).
    """
    ranked = df.repartition(1).sortWithinPartitions(*natural_order)
    return ranked.withColumn(
        id_col, F.monotonically_increasing_id() + F.lit(base)
    )

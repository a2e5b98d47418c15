"""JDBC warehouse seam (S6).

The reference's warehouse is MySQL written with batched
``INSERT IGNORE`` (src/lambda_2.py:205-238, src/lambda_71.py:103-121);
the sandbox Warehouse is parquet-backed.  This module completes the S6
mapping with the real ``df.write.jdbc`` path behind the same
interface, so swapping the store is a constructor change, not a
pipeline change.

INSERT IGNORE over JDBC is re-expressed Spark-side: read back ONLY the
natural-key columns of the target table (column-pruned JDBC scan),
anti-join the incoming batch, append the survivors.  That keeps the
idempotency contract in the engine (same ``dedup_insert`` primitive as
the parquet store) instead of relying on a MySQL-only SQL dialect —
``mode="append"`` JDBC writes are portable across warehouses.

At scale: the key read-back can push a partitioned read
(``partitionColumn``/``numPartitions``) and the append batches per
partition (``batchsize``) — both exposed via ``reader_options`` /
``writer_options``.  No driver-side row handling anywhere.

Tested two ways: the orchestration — key pruning, anti-join, append
gating — with recorded reader/writer calls (tests/test_jdbc_store.py),
and the LIVE path end-to-end against embedded Apache Derby, whose
jars ship with Spark (tests/test_jdbc_derby_roundtrip.py: write →
read-back → idempotent re-write → overlapping batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import schemas
from ..operators.aggregates import dedup_insert


class JdbcTableStore:
    """A JDBC-backed table store with the Warehouse append contract."""

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        properties: dict[str, str] | None = None,
        reader_options: dict[str, str] | None = None,
        writer_options: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.url = url
        self.properties = dict(properties or {})
        self.reader_options = dict(reader_options or {})
        self.writer_options = dict(writer_options or {})

    def read(self, table: str, columns: list[str] | None = None) -> DataFrame:
        """JDBC scan, optionally pruned to ``columns``.

        Pruning is a plain ``.select`` — Spark's JDBC source pushes
        the projection into the generated query itself, with
        DIALECT-CORRECT identifier quoting.  (A hand-built
        ``(SELECT col FROM t)`` subquery breaks against stores that
        quote identifiers at CREATE — Spark's writer quotes
        lower-case column names, so Derby folds the unquoted
        reference to upper case and misses them; found by the live
        Derby roundtrip, tests/test_jdbc_derby_roundtrip.py.)"""
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", table)
        )
        for k, v in {**self.properties, **self.reader_options}.items():
            reader = reader.option(k, v)
        df = reader.load()
        return df.select(*columns) if columns else df

    def append(self, table: str, df: DataFrame) -> None:
        writer = (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", table)
            .mode("append")
        )
        for k, v in {**self.properties, **self.writer_options}.items():
            writer = writer.option(k, v)
        writer.save()

    def insert_ignore(
        self, table: str, incoming: DataFrame, keys: list[str] | None = None
    ) -> int:
        """INSERT IGNORE (A7) over JDBC: batch-dedup + anti-join against
        the stored natural keys, then a plain append of the survivors.

        Returns the number of rows appended — the same contract as
        ``Warehouse.insert_ignore`` so pipelines swap stores freely, except
        that id columns are appended as given: the database's own
        ``AUTO_INCREMENT`` stands in for ``schemas.SURROGATE_IDS``.

        The survivor set is eagerly materialized (``localCheckpoint``)
        before it is counted AND appended: lazily, each action would
        re-run the anti-join — two separate JDBC key scans — so the
        returned count could disagree with the rows actually written
        if the table changed in between.  One snapshot feeds both.

        SINGLE-WRITER assumption: unlike MySQL's ``INSERT IGNORE``
        (atomic per row, safe under the reference's concurrent
        lambdas), read-back + anti-join + append is NOT atomic — two
        concurrent writers can both see a key as absent and both
        append it.  Under concurrent writers, push idempotency into
        the database instead: append to a staging table and merge with
        ``INSERT ... ON CONFLICT DO NOTHING`` / ``INSERT IGNORE``.
        """
        keys = keys or schemas.NATURAL_KEYS[table]
        existing_keys = self.read(table, columns=keys)
        fresh = dedup_insert(existing_keys, incoming, keys).localCheckpoint(
            eager=True
        )
        n = fresh.count()
        if n:
            self.append(table, fresh)
        return n

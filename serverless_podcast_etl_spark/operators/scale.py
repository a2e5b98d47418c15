"""Scale helpers shared by compute-heavy operators.

Text-hashing operators (MinHash, SimHash, fingerprints, tokenize) are
CPU-bound per row, so their wall-clock is set by how many cores the
work fans out to — not by bytes.  A small corpus stored as one parquet
row group is unsplittable and would pin the whole job to a single
task.  ``ensure_parallelism`` round-robins such inputs across the
cluster's default parallelism; on a real many-file 100 TB input the
split estimate exceeds the core count and this is a no-op (no shuffle
is added).

Optimization-round rework (guide §1.2 "per-task work" + §2.5 "input
skew"): the original probe was ``df.rdd.getNumPartitions()``, which
builds the full physical plan on the driver — measured 0.2-1.0 s of
catalyst work PER CALL, paid again on every re-plan because bench/
driver runs construct fresh DataFrames.  Worse, the static partition
count is blind to AQE: a frame behind a shuffle reports
``spark.sql.shuffle.partitions`` statically, but AQE coalesces the
runtime exchange down to 1-2 partitions when the shuffled BYTES are
small, serializing the md5/shingle scan that follows (measured: the
q99 admission path hashed ~4.4k docs on 2 tasks, 0.8 s/stage).  The
probe now estimates SCAN SPLITS from the frame's input files
(analysis-only, ~5 ms): when the estimate covers the target the frame
is left alone exactly as before; when the input is split-starved the
frame is round-robined with an explicit numbered repartition, which
AQE never coalesces — so the fan-out survives to runtime even behind
a small shuffle.  Frames with no input files at all (in-memory test
fixtures, checkpoint scans) keep the original exact ``.rdd`` probe.

r15 rework of the estimate itself (opt-r14 VERDICT #3 + ADVICE #1):
the split count now mirrors Spark's own openCostInBytes BIN-PACKING
(``FilePartition.maxSplitBytes``) instead of flooring at one split
per file, the ``len(files) >= target`` early-out is gone (many small
files can pack into few tasks — the packed estimate decides, with an
accumulate-until-proven early exit bounding the stat cost on huge
inputs), and a file the driver cannot ``os.stat`` (remote
filesystems) counts as ``maxPartitionBytes``-sized, so an
unknown-size input passes through rather than paying a speculative
full shuffle — and the early exit stops after at most ``target``
such files.

The split estimate replays Spark's greedy packing piece by piece
(``FilePartition.getFilePartitions``) and so equals the scan's task
count: one small file is one split, at any target.

The mirror image, ``single_partition``: an input whose files (those
under the caller's pinned partition values, e.g. ``episode_id=7``)
pack into one split is read by one scan task anyway.  Marking it as
one partition (``coalesce(1)``) costs no parallelism, and its
``SinglePartition`` output satisfies every distribution an aggregate,
window, global sort or join requires, so the planner places no
exchange above the scan: no hash-aggregate shuffle and no
range-partition sampling job for ``orderBy``.  ``one_split`` is the
decision alone, for a join that must hold on both sides.  Both are
decided on the driver (file list and sizes, no Spark job, no physical
planning).  Inputs of two or more splits keep the planner's plan
unchanged — among them a partition or a small table that has
collected several trickle commits: under the default 4 MB openCost
two small files are two splits.
"""

from __future__ import annotations

import os
import weakref
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_SIZE_SUFFIX = {
    "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(s: str) -> int:
    """Parse a Spark byte-size conf string ('128MB', '134217728b')."""
    s = s.strip().lower()
    num = s.rstrip("kmgtb")
    suffix = s[len(num):] or "b"
    return int(float(num) * _SIZE_SUFFIX.get(suffix, 1))


def _file_size(path_str: str) -> int | None:
    """Size of one input file by ``os.stat``, or None when it cannot be
    determined (remote filesystems like s3/hdfs/abfs).  The caller
    treats such files as ``maxPartitionBytes``-sized, which errs
    toward PASSING THROUGH — never toward shuffling an input of
    unknown (possibly huge) size (opt-r14 VERDICT finding #1: the old
    probe counted unstat-able files as empty and could trigger a
    gratuitous full shuffle of a mid-size remote table)."""
    try:
        return os.stat(urlparse(path_str).path or path_str).st_size
    except OSError:
        return None


def _estimated_scan_splits(
    files: list[str],
    max_partition_bytes: int,
    open_cost: int,
    min_partition_num: int,
    at_least: int | None = None,
    size_of=_file_size,
) -> int:
    """Estimate of the scan's task count, mirroring Spark's own file
    packing (``FilePartition``):

    * the split budget is ``maxSplitBytes = min(maxPartitionBytes,
      max(openCost, totalBytes / minPartitionNum))``, where every file
      counts ``size + openCostInBytes`` toward the total;
    * each file (parquet is splittable) is cut into pieces of at most
      that budget;
    * the pieces, largest first, are packed greedily: a split closes
      when the next piece would overflow the budget, and each piece
      added charges ``length + openCostInBytes``.

    So one small file is one split, while two files are two whenever
    the budget is the openCost floor (the first file's charge alone
    fills it).  Many small files pack into shared splits, and the
    ``bytesPerCore`` term spreads a large total over
    ``minPartitionNum`` tasks.

    Files whose size cannot be determined (``size_of`` → None) count
    as ``maxPartitionBytes``-sized — the do-no-harm direction: an
    unknown-size input is never repartitioned on a guess.

    ``at_least`` short-circuits the stat loop.  A split holds at most
    ``maxSplitBytes + openCost`` charged bytes, so once the charged
    total reaches ``at_least * (maxPartitionBytes + openCost)`` the
    estimate is proven to reach ``at_least`` and the loop returns
    without statting the rest — a 100 TB input is decided after a
    handful of stats."""
    sizes = []
    total = 0
    for f in files:
        size = size_of(f)
        sizes.append(max_partition_bytes if size is None else size)
        total += sizes[-1] + open_cost
        if at_least is not None and total >= at_least * (
            max_partition_bytes + open_cost
        ):
            return at_least
    bytes_per_core = total // max(1, min_partition_num)
    max_split = max(1, min(max_partition_bytes, max(open_cost, bytes_per_core)))
    pieces = sorted(
        (
            min(max_split, size - off)
            for size in sizes
            for off in range(0, size, max_split)
        ),
        reverse=True,
    )
    splits, current = 0, max_split
    for piece in pieces:
        if current + piece > max_split:
            splits, current = splits + 1, 0
        current += piece + open_cost
    return splits


def local_frame(spark, rows, schema) -> DataFrame:
    """Driver-known rows as a DataFrame WITHOUT Python workers at
    execution time.

    ``spark.createDataFrame(list)`` parallelizes pickled rows over
    default-parallelism PYTHON partitions: every action over the frame
    (broadcast builds included) launches a Python worker per partition
    — ~0.5-1.5 s for a frame of a few rows (NOTES fact 23).  Routing
    the same rows through pandas takes the Arrow path into the JVM, so
    execution reads JVM-side batches and no Python worker ever spawns.
    Same rows, same schema, positional column mapping.  Falls back to
    the plain path for empty inputs (nothing to optimize), for any row
    carrying a None (pandas would infer float64 for a nullable int
    column, silently losing precision above 2^53 — no exception is
    raised, so the except-fallback below could not catch it; opt-r14
    ADVICE #2), or if the pandas conversion is rejected (exotic
    types).
    """
    rows = list(rows)
    if rows and not any(
        v is None
        for r in rows
        for v in (r if isinstance(r, (tuple, list)) else (r,))
    ):
        try:
            import pandas as pd

            return spark.createDataFrame(
                pd.DataFrame(rows), schema=schema
            )
        except Exception:
            pass
    return spark.createDataFrame(rows, schema)


def keyed_parallelism(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Hash-repartition on ``key_cols`` with an EXPLICIT partition
    count, for shuffles feeding CPU-bound Python stages
    (``mapInPandas``/``applyInPandas``).

    A bare ``df.repartition(*cols)`` is a REPARTITION_BY_COL shuffle,
    which AQE freely coalesces by BYTE size — measured on the EWMA
    path: ~2 MB of shuffled events coalesced to 2 partitions,
    serializing 2.7 s of per-row pandas work onto 2 tasks.  Bytes say
    nothing about downstream Python cost, so these shuffles pin their
    count: max(configured shuffle partitions, default parallelism) —
    the cluster-tuned width at scale, the core count locally — which
    AQE leaves alone (REPARTITION_BY_NUM).
    """
    spark = df.sparkSession
    try:
        # no fallback argument: Spark 4 VALIDATES a supplied default
        # against the conf's requirement (a "0" sentinel throws);
        # without one the session's effective value comes back
        conf_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        conf_n = 0
    n = max(conf_n, spark.sparkContext.defaultParallelism)
    return df.repartition(n, *key_cols)


def _scan_splits(spark, files: list[str], at_least: int) -> int:
    """``_estimated_scan_splits`` under the session's file-packing
    configuration."""
    try:
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes")
        )
    except Exception:
        max_pb = 128 << 20
    try:
        open_cost = _parse_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes")
        )
    except Exception:
        open_cost = 4 << 20
    min_pn = None
    for key in (
        "spark.sql.files.minPartitionNum",
        "spark.sql.leafNodeDefaultParallelism",
    ):
        try:
            min_pn = int(spark.conf.get(key))
            break
        except Exception:
            continue
    if not min_pn:
        min_pn = spark.sparkContext.defaultParallelism
    return _estimated_scan_splits(
        files, max_pb, open_cost, min_pn, at_least=at_least
    )


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to ``defaultParallelism`` partitions
    when its input cannot fan the scan out that wide; pass through
    (zero cost) otherwise.  Streaming frames pass through untouched —
    micro-batch partitioning belongs to the source.

    The returned repartition is an explicit numbered one
    (REPARTITION_BY_NUM), deliberately: AQE's byte-based partition
    coalescing must not undo the fan-out — the operators calling this
    are CPU-bound per ROW, and their small shuffled byte size says
    nothing about the md5/tokenize work downstream.
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        # no file source (in-memory fixtures, checkpoint scans): fall
        # back to the exact physical probe — rare, and such frames
        # already carry an executed partitioning
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df
    if _scan_splits(spark, files, at_least=target) >= target:
        return df
    return df.repartition(target)


def _under(path: str, pinned: dict) -> bool:
    """Whether a file's hive directories (``col=value``) agree with
    every pinned value.  A pinned column with no directory in the path
    is not a partition column of that table and prunes nothing."""
    for part in urlparse(path).path.split("/")[:-1]:
        name, eq, value = part.partition("=")
        name = unquote(name)
        if eq and name in pinned and unquote(value) != str(pinned[name]):
            return False
    return True


_INPUT_FILES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _input_files(df: DataFrame) -> list[str]:
    """``df.inputFiles()``, fetched once per DataFrame object.  py4j
    hands the list over one path per round trip (about 0.1 ms each on
    a 4-core VM, ~20 ms for a 192-file table), while a reader such as
    the dashboard asks about the same table frame on every click.
    Spark lists a frame's files once and nothing in this package
    refreshes them, so the memo cannot go stale; an entry dies with
    its frame."""
    files = _INPUT_FILES.get(df)
    if files is None:
        files = _INPUT_FILES[df] = df.inputFiles()
    return files


def one_split(df: DataFrame, **pinned) -> bool:
    """Whether Spark reads the files of ``df`` that lie under the
    ``pinned`` partition values (``episode_id=7``) as at most one
    split, i.e. one scan task.  Decided on the driver from the file
    list and sizes: no Spark job, no physical planning.  A frame with
    no input files (an in-memory frame) is never one split: its
    partitioning is not known without planning it."""
    files = _input_files(df)
    if not files:
        return False
    mine = [f for f in files if _under(f, pinned)]
    return _scan_splits(df.sparkSession, mine, at_least=2) <= 1


def single_partition(df: DataFrame, **pinned) -> DataFrame:
    """``df.coalesce(1)`` when ``one_split(df, **pinned)``, else ``df``
    as it is (why, in the module docstring).  The caller still applies
    the pinned equalities as filters; here they only pick the files
    the decision counts."""
    return df.coalesce(1) if one_split(df, **pinned) else df

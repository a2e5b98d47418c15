"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the configs below are chosen so the
same logical plans scale to a real multi-executor cluster:

* AQE on (runtime coalescing, skew-join splitting, auto broadcast) —
  at 100 TB the static ``shuffle.partitions`` guess is always wrong,
  AQE re-plans from actual map-output sizes.
* Arrow on — every Pandas UDF crosses the JVM/Python boundary in
  columnar batches instead of pickled rows.
* UTC session timezone — date-part extraction must not depend on the
  host timezone (the DuckDB oracle is timezone-naive).
* Driver heap sized to the workload (r5): the sf1 scale rehearsal
  died at the JVM's 1 GiB default heap ("Not enough memory to build
  and broadcast the table") on a 128 GiB machine — in local mode the
  driver heap IS the executor memory, so it must be sized like one.
  ``SPARK_GRAFT_DRIVER_MEM`` overrides; only effective for sessions
  this factory actually creates (JVM-launch config, ignored on
  getOrCreate reuse).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "spark-podcast-analytics",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned config."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_GRAFT_CPUS" in os.environ:
        builder = builder.master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    return builder.getOrCreate()

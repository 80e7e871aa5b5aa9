"""SparkSession factory with scale-ready defaults.

The reference bootstraps one Sheets API client per run
(reference: etl/gsheets.py:12-15, operator S1 in SURVEY §2.1); our
equivalent engine bootstrap is the SparkSession. Defaults here are chosen
for the 100 TB design target and are safe on local[N]:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching (sort-merge -> broadcast when a
  side turns out small).
- dynamic partition overwrite: the reference's idempotent
  clear-then-write sink (etl/gsheets.py:73-94) maps to overwriting only
  the partitions a run produced, not the whole dataset.
- Arrow on: any unavoidable Python boundary (pandas UDFs in the
  extension operators) moves batches, not rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else 3/4 of physical RAM, capped at 16g."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(ram_mb * 3 // 4, 16 * 1024)}m"


def get_spark(
    app_name: str = "ursa-major-choir-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from :func:`default_cpus`.
    """
    cpus = default_cpus()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")

    conf = {
        # --- shuffle sizing -------------------------------------------------
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or cpus
        ),
        # --- adaptive execution --------------------------------------------
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- idempotent overwrite at partition granularity ------------------
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # --- Python boundary is Arrow-batched, never row-at-a-time ----------
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Bytes-aware Arrow batch cap: maxRecordsPerBatch (default 10k
        # ROWS) is blind to row width, so a mapInPandas over multimodal
        # BLOB columns (~10 MB images) could assemble a 100 GB batch.
        # Capping bytes bounds executor memory per batch regardless of
        # blob size; with both set, a batch closes when either limit
        # hits (wide rows -> bytes, narrow rows -> records).
        "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
        # --- scan sizing: keep file splits in executor-memory range ---------
        "spark.sql.files.maxPartitionBytes": "128m",
        # --- timezone-stable timestamps across engines -----------------------
        "spark.sql.session.timeZone": "UTC",
        # tz-naive parquet timestamps read as TIMESTAMP (LTZ) under the
        # pinned UTC session tz, not TIMESTAMP_NTZ: NTZ is rejected by
        # unix_micros / withWatermark / session_window-on-stream, and
        # under UTC the two render identically, so LTZ is strictly more
        # capable here. (Round-4 driver drift: events.parquet switched
        # from TIMESTAMP(NANOS) to naive micros and broke q13 + the
        # streaming suite; this conf plus operator-level casts makes the
        # engine robust to either encoding.)
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # --- nanosecond-precision parquet timestamps read as long nanos ------
        # (Spark has no TIMESTAMP(NANOS); plans/queries.T converts the
        # events table's ts to micros explicitly.)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # quieter local runs
        "spark.ui.enabled": "false",
        # Up to a 16g heap: the bench/test harness runs ~200 query
        # executions in ONE local-mode JVM (driver == executors), and
        # iterative queries with eager localCheckpoints intermittently
        # paid multi-second full-GC pauses at 8g (q55 spiking 5s -> 28s
        # warm). The default takes 3/4 of physical RAM up to that, so a
        # smaller host is not over-committed.
        "spark.driver.memory": default_driver_memory(),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

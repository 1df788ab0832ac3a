"""SparkSession factory tuned for large-scale analytics.

The reference configures its session at ``Test Scripts/07-run.py:18-21``
(shuffle partitions = cluster parallelism, Delta optimizeWrite /
autoCompact, RocksDB state store). This module is the OSS, scale-aware
generalization: AQE on (runtime coalescing + skew-join handling),
shuffle partitions sized from the env, Arrow enabled for the
Pandas-UDF slow path, UTC session time zone for deterministic
event-time semantics.

Design notes for the 100 TB target (tested on local[N]):
- ``spark.sql.adaptive.enabled`` + ``coalescePartitions`` +
  ``skewJoin`` mean the same plan survives a 1000× scale-up: AQE
  re-sizes post-shuffle partitions from runtime statistics instead of
  a hard-coded count, and splits skewed join partitions.
- ``spark.sql.files.maxPartitionBytes`` stays at the 128 MB default —
  the right granularity for a 1000-executor parquet scan.
- ``spark.sql.autoBroadcastJoinThreshold`` stays at default (10 MB);
  dimension joins additionally carry explicit ``broadcast()`` hints in
  ``operators.joins`` so the plan does not silently degrade to a
  sort-merge join when statistics are missing.
- The RocksDB state store provider (OSS class, unlike the Databricks
  class name the reference uses at ``Test Scripts/07-run.py:21``) keeps
  streaming join/dedup state off-heap and spillable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def default_parallelism() -> int:
    """Worker thread count: $SPARK_GRAFT_CPUS, else all visible CPUs."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def default_driver_memory() -> str:
    """Driver heap: $SPARK_DRIVER_MEMORY, else half of physical memory
    capped at 16g. A local-mode driver grows its heap toward the cap
    before collecting it, so a 16g heap on a 16 GB machine gets the JVM
    killed for lack of memory once the Python side holds a few GB."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16384, phys_mb // 2)}m"


def get_spark(
    app_name: str = "pulselake-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the worker count — the
    reference's choice (``07-run.py:18``); on a real cluster AQE
    coalescing makes the initial number mostly a ceiling.
    """
    n = cpus or default_parallelism()
    sp = shuffle_partitions or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
        # Parquet TIMESTAMP(NANOS) (written by pandas/arrow) is not a
        # Spark type; read as long and convert at the source boundary
        # (sources.tables handles the micros conversion).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Runtime filters: inject a bloom filter built from the small
        # side of a shuffle join into the big side's scan — at 100 TB
        # this prunes most of a fact scan for selective joins
        # (the Q3 shape: filtered customers → orders → lineitem).
        # (semiJoinReduction is left at default: enabling it together
        # with the bloom filter hangs session startup on this Spark
        # build, and when both are on Spark prefers the bloom filter
        # anyway.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Streaming: bound the number of state-store instances locally.
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "300s")
        .config(
            "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
        )
        # Commit appends a changelog instead of uploading a full
        # RocksDB snapshot every batch; snapshots move to background
        # maintenance. Cuts per-batch commit wall (measured in
        # SCALE.md "Streaming state-store tuning") and is the
        # production-recommended pairing with the RocksDB provider.
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

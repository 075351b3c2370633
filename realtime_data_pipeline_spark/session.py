"""SparkSession factory.

Generalizes the reference's session setup (``spark_jobs/batch_etl.py:18-26``:
``local[*]`` master, ``spark.sql.shuffle.partitions=16``,
``spark.sql.files.maxPartitionBytes=64m``, ``spark.sql.caseSensitive=false``)
into a parameterized builder with scale-ready defaults:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting) instead
  of the reference's hardcoded partition count — the right answer at 100 TB
  where no static number is correct for every stage.
* Session timezone pinned to UTC so timestamp semantics are stable across
  engines (required for the DuckDB oracle parity checks).
* Arrow enabled for any pandas interchange (vectorized UDF path).
* Partition directories are always listed on the driver, never by a
  Spark job (see :func:`get_spark`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Stateful streaming keeps its per-key state in a StateStore per partition.
# The default (hdfs) provider holds ALL state in executor heap — fine for
# dev, the first thing that falls over at 100x the per-key state. RocksDB
# spills state to local disk with a bounded block cache, which is the
# provider every large stateful deployment runs. rocksdbjni ships inside
# pyspark's jars, so this is pure configuration.
STATE_STORE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}

_STATE_STORE_CONF = "spark.sql.streaming.stateStore.providerClass"


def set_state_store(spark: SparkSession, which: str) -> None:
    """Select the streaming state-store provider ('hdfs' | 'rocksdb') at
    runtime. The conf is read at QUERY START, so setting it between
    queries is safe and affects only queries started afterwards —
    existing checkpoints keep working (provider is per-checkpoint
    metadata-compatible; state format is rebuilt from the changelog)."""
    spark.conf.set(_STATE_STORE_CONF, STATE_STORE_PROVIDERS[which])


def get_spark(
    app_name: str = "realtime_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: str = "128m",
    state_store: str = "rocksdb",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters mirror the reference's CLI knobs (SURVEY.md §2.11) but default
    to adaptive behavior rather than hardcoded dev sizes. ``state_store``
    defaults to RocksDB (disk-backed, bounded-heap) — the 100 TB posture
    for stateful streaming; pass 'hdfs' for the Spark default in-heap
    provider.

    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` is raised
    to the int maximum, so reading a root with more than 32 partition
    dirs (a month of date partitions, a growing ``batch_id=`` index)
    lists them on the driver instead of launching a listing job. The
    master is ``local[N]``, so that job's tasks only ever ran in the
    same JVM; dropping it took a one-day read of a 37-partition zone
    from 0.186 to 0.080 s on 4 vCPU. A cluster deployment that lists
    object-store prefixes from many executors restores Spark's default
    (32) through ``extra_conf``.
    """
    if state_store not in STATE_STORE_PROVIDERS:
        raise ValueError(
            f"state_store must be one of {sorted(STATE_STORE_PROVIDERS)}, "
            f"got {state_store!r}"
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        .config("spark.sql.caseSensitive", "false")
        # never list partition dirs with a Spark job (see docstring)
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # lets custom Python data sources (pysource.py) receive
        # pushFilters() — without it Spark refuses to plan a reader that
        # implements pushdown rather than silently skipping it
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # write timestamps as INT64 micros, not the legacy INT96: INT96
        # carries NO parquet min/max statistics, which silently disables
        # both Spark's row-group pruning and the versioned zone's
        # manifest file skipping on every timestamp column
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config(_STATE_STORE_CONF, STATE_STORE_PROVIDERS[state_store])
        # commit uploads the per-batch CHANGELOG instead of a full RocksDB
        # snapshot — commit cost scales with the batch's state delta, not
        # total state size (snapshots still happen, asynchronously, at
        # maintenance intervals). The difference between O(delta) and
        # O(state) per trigger is the difference between a streaming job
        # that keeps up at 100 TB of state and one that falls behind.
        # Ignored by the HDFS provider.
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

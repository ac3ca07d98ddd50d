"""SparkSession factory with the engine's standard configuration.

Tuned for the driver's local[N] harness but every knob is the one you'd
set on a real cluster too: AQE on (runtime re-plan, skew-join split,
partition coalescing), shuffle partitions sized to the parallelism at
hand, Arrow for the Python boundary, UTC session time so results are
oracle-comparable (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default CPU budget: the driver exports SPARK_GRAFT_CPUS; fall back to
# all local cores. On a real cluster these come from the submit conf.
_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

# heap ceiling when the host is large; below 32 GB of RAM the default
# is half of physical memory instead (see default_driver_memory)
_MAX_DRIVER_MIB = 16 * 1024


def physical_memory_bytes() -> int:
    """The host's physical RAM, the figure every in-process memory
    default (this heap, the test oracle's DuckDB cap) is derived from."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def default_driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` when set,
    else min(16g, half of physical RAM) in MiB. A flat 16g is more than
    a 16 GB host holds, and the kernel's OOM killer, not the JVM's GC,
    then decides when the heap stops growing. Half leaves the other
    half to DuckDB, the Python workers and the OS."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    return f"{min(_MAX_DRIVER_MIB, physical_memory_bytes() // 2 // 2**20)}m"


def get_spark(app_name: str = "clickhouse_aggregation_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    At 100 TB the same plan runs with shuffle partitions sized by AQE
    (``spark.sql.adaptive.coalescePartitions``) from the advisory
    target below; locally we pin the initial number to the core count
    so tiny inputs don't over-parallelize.

    The driver heap is ``default_driver_memory()``: the
    ``SPARK_GRAFT_DRIVER_MEM`` env var when set (``perfbench`` pins
    2g through it), else min(16g, half of physical RAM).
    """
    n_shuffle = shuffle_partitions or max(_CPUS, 4)
    builder = (
        SparkSession.builder.master(f"local[{_CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # Broadcast anything dimension-sized; at 100 TB the dims
        # (region/nation/part metadata, rollup lookup tables) still fit.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # OPTIMIZATION r11 (guide §2.4 remove shuffles outright): allow
        # a join to reuse inputs hash-partitioned by a SUBSET of its
        # keys instead of re-exchanging both sides on all of them. The
        # engine partitions deliberately (repartition by the highest-
        # cardinality key serves dedup + agg + join-back in one
        # exchange, e.g. cheapest_supplier_per_part); at 100 TB the
        # subset keys are high-cardinality (orderkey/partkey), so the
        # conservative default buys nothing but an extra full shuffle.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark's
        # reader rejects; read as epoch-nanos BIGINT and convert at the
        # edge (sources/tables.py) — integer nanos are also the most
        # oracle-deterministic representation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", default_driver_memory())
        # the generated-code cache defaults to 100 entries; a session
        # running the full ~100-query registry compiles several codegen
        # stages per query, so the default thrashes late in a long
        # session (observed: contamination's first run 21-27 s deep in
        # a full bench vs 3.5 s isolated — Janino recompiles of its
        # large lambda trees after eviction). 1000 entries ≈ tens of MB
        # of class metadata; static conf, harmless on a real cluster.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

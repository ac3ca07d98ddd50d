"""Parquet table loaders for the driver's synthetic star schema.

Maps the reference's source surface (SURVEY.md §2.1 S1/S4/S5): the
archive-gateway bulk source with server-side filter/projection pushdown
becomes ``spark.read.parquet`` — Catalyst pushes predicates to parquet
row-group stats and prunes columns automatically, which is the same
pushdown contract the gateway provides (reference:
usdc-transfers/src/main.ts:24,46-57).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caches import PlanCache
from ..schemas import DRIVER_TABLES

# Lazy PLAN cache (OPTIMIZATION r11, guide §5: the driver should do
# almost no work). ``spark.read.parquet`` is driver-side work on every
# call — a py4j round trip plus an eager footer read for schema — and
# the bench pays it once per table reference per repeat (~200 times per
# run). DataFrames are immutable lazy plans, so handing every caller
# the SAME object per (session, sf_dir, table) is value-identical; NO
# data is persisted or precomputed — every action still recomputes from
# parquet. on_evict is a no-op because nothing is pinned.
# key is (appId, table, sf_dir) — sf_dir LAST so caches.clear_plan_caches'
# suffix match retires a scale's entries like every other family cache.
# LIFECYCLE CONTRACT (ADVICE r11): the cached plan pins the parquet
# file listing captured at first read. Rewriting a scale directory
# in-process requires caches.clear_plan_caches(sf_dir) first, or later
# actions read deleted/stale files (bench.py's multi-scale loop and
# the test fixtures already honor this).
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = PlanCache(
    capacity=64, on_evict=lambda _v: None, notify_family_evict=False)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table. Parquet carries its own (fixed) schema;
    filter pushdown / column pruning happen in Catalyst.

    Timestamp columns arrive as epoch-nanos BIGINT (see
    ``spark.sql.legacy.parquet.nanosAsLong`` in session.py); convert to
    microsecond TimestampType here so downstream operators see real
    timestamps. The cast is a narrow projection — still pushdown-safe.
    """
    key = (spark.sparkContext.applicationId, name, sf_dir)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name in _NANOS_TS_COLUMNS and field.dataType.simpleString() == "bigint":
            # integer truncation nanos -> micros, then exact micros ->
            # timestamp; no float rounding anywhere.
            df = df.withColumn(
                field.name, F.expr(f"timestamp_micros({field.name} div 1000)"))
    _TABLE_CACHE[key] = df
    return df


# columns stored as TIMESTAMP(NANOS) in the driver parquet
_NANOS_TS_COLUMNS = {"ts"}


# ensure_parallelism's split-count probe (df.rdd.getNumPartitions)
# forces physical planning on the DRIVER on every call; the answer is a
# pure function of the (immutable) plan, so memoize it per DataFrame
# object. WeakKey: a transient frame's entry dies with the frame; the
# common callers pass the long-lived _TABLE_CACHE scans.
import weakref  # noqa: E402  (module-scope import kept near its user)

_NPARTS_MEMO: "weakref.WeakKeyDictionary[DataFrame, int]" = \
    weakref.WeakKeyDictionary()


def ensure_parallelism(df: DataFrame, min_factor: float = 1.0) -> DataFrame:
    """Round-robin repartition iff the scan yields fewer splits than the
    cluster has cores.

    CPU-bound per-row operators (shingling, per-row minhash, Pandas-UDF
    feature extraction) are bottlenecked by input-split count, not data
    size: a small file = one split = one core. At 100 TB inputs arrive
    in thousands of splits and this is a no-op; on a skinny input the
    one extra shuffle of raw rows buys full-cluster parallelism for the
    expensive stage that follows.
    """
    spark = df.sparkSession
    target = int(spark.sparkContext.defaultParallelism * min_factor)
    nparts = _NPARTS_MEMO.get(df)
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        _NPARTS_MEMO[df] = nparts
    if nparts < target:
        return df.repartition(target)
    return df


# what register_views last registered, per session: temp views are
# session-global, so re-registering the SAME (sf_dir, tables) is a
# no-op semantically — skip the 10 py4j createOrReplaceTempView calls.
# Registering a different sf_dir (bench warm-up alternates scales)
# correctly re-registers and updates the memo.
_VIEWS_MEMO: dict[str, tuple[str, tuple[str, ...]]] = {}


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = DRIVER_TABLES) -> None:
    """Register every driver table as a temp view so ``spark.sql`` text
    mirrors the DuckDB-oracle environment (same view names)."""
    app = spark.sparkContext.applicationId
    if _VIEWS_MEMO.get(app) == (sf_dir, tables):
        return
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_MEMO[app] = (sf_dir, tables)

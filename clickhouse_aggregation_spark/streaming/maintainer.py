"""Incremental rollup maintenance — the Spark-first rebuild of the
reference's continuous materialized-view pipeline (SURVEY.md §2.9).

Reference architecture: every insert block into the replicated table
triggers the six MV SELECTs; partial aggregates are inserted into
SummingMergeTree targets and background merges collapse equal-key rows
lazily, so *reads re-aggregate* (reference: usdc-transfers/sql/
analytics.sql:9-106; usdc-transfers/README.md:65-85 re-groups over the
MV). Rebuild mapping:

  micro-batch stream  -> Structured Streaming file source over the
  (O1)                   transfers directory, foreachBatch handler
                         (reference main.ts:71-101's batch closure)
  MV partial insert   -> per-batch groupBy partial aggregate APPENDED to
  (O4)                   the rollup parquet — bit-for-bit the
                         SummingMergeTree write path
  background merge    -> ``compact()``: re-aggregate + atomic overwrite
                         (ClickHouse's lazy merge, run on demand)
  read contract       -> ``read()`` re-aggregates over the rollup —
  (A5)                   exactly the reference's query pattern
  reorg retraction    -> rollup measures are SIGNED sums
  (O2, O3)               (sum(value*_sign), sum(_sign)): a reorg batch
                         containing _sign=-1 rows subtracts on merge, so
                         rollups converge to never-having-ingested the
                         orphaned rows (BASELINE.md reorg invariant).
                         Deterministic log_ids + checkpointing give
                         effectively-once maintenance.

Scale: each batch does one map-side-combinable partial aggregate per
rollup and appends rollup-sized (not fact-sized) files; state lives in
the rollup table itself, not executor memory, so a 1000-executor
cluster maintains all rollups with one shuffle per batch per rollup.
At shard sizes the cost is per-job overhead, not data: the handler
submits the rollups' writes together from a thread pool, so a batch
costs about one write's latency instead of one per rollup. Reads name
each rollup's state schema up front (``state_schema``, derived once per
process), so a read lists the store but never opens a parquet footer
to plan. A small read's cost is per-stage overhead too: a store of
under a megabyte merges faster in one task than through a shuffle. So
a store of at most ``SINGLE_TASK_BYTES`` (1 MiB, the measured
crossover) is merged in a single task with no Exchange, and the
dashboard's own group-by, top-k and collect run in that same task. A
larger store keeps the shuffle, which spreads its merge over the
cores: at 3.4 MB it is already a third faster than one task.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import cached_property

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..functions.bucketing import block_hour, block_range_day, size_bucket, to_day
from ..schemas import TRANSFERS

# the partition a compaction writes: a store's merged base state
BASE_PARTITION = "epoch=-1"

# the largest store ``read_state`` merges in one task, in parquet bytes.
# Measured on a 4-core host over daily and top_addresses stores built
# from transfers (merge alone, and with a dashboard's group-by/top-k):
# one task won by 0.03-0.08 s up to 0.9 MB, broke even near 1.5 MB and
# lost from 2.3 MB (3.4 MB: 0.32 s against 0.21 s through the shuffle).
SINGLE_TASK_BYTES = 1 << 20


@dataclass(frozen=True)
class IncrementalRollup:
    """One maintained rollup: ``partial`` maps a (possibly signed) batch
    of ``source_schema`` rows to partial-STATE rows; reads merge states
    by ``keys`` (the SummingMergeTree contract).

    ``merge_exprs`` define how equal-key states combine — ``sum(m)`` by
    default, or a mergeable-sketch union (``hll_union_agg``) for
    distinct-count state, which is ClickHouse's AggregatingMergeTree
    ``uniqState``/``uniqMerge`` pattern. ``present_exprs`` (optional)
    finalize merged state for reading (e.g. ``hll_sketch_estimate``);
    compaction merges state WITHOUT finalizing, so a compacted rollup
    stays incrementally mergeable forever.
    """

    name: str
    keys: tuple[str, ...]
    measures: tuple[str, ...]
    partial: Callable[[DataFrame], DataFrame]
    source_schema: StructType                      # rows a batch carries
    merge_exprs: tuple[str, ...] | None = None     # default: sum(measure)
    present_exprs: tuple[str, ...] | None = None   # default: identity

    def store(self, root: str) -> str:
        return os.path.join(root, self.name)

    @cached_property
    def state_schema(self) -> StructType:
        """The schema of this rollup's state rows: ``partial`` analysed
        over an empty frame of ``source_schema`` (no Spark job). Every
        store file has it — epoch partials are ``partial`` output, and
        ``merge_exprs`` keep each measure's type — so reads declare it
        instead of inferring it from parquet footers."""
        empty = SparkSession.active().createDataFrame([], self.source_schema)
        return self.partial(empty).schema

    def _merged(self, df: DataFrame) -> DataFrame:
        exprs = self.merge_exprs or tuple(
            f"sum({m}) AS {m}" for m in self.measures)
        return df.groupBy(*self.keys).agg(
            *[F.expr(e) for e in exprs])

    def process_batch(self, batch: DataFrame, root: str,
                      epoch_id: int = 0) -> None:
        """The MV insert: one partial aggregate per batch, written to an
        epoch-keyed directory with OVERWRITE.

        foreachBatch is at-least-once: on failure mid-handler the whole
        batch replays, and a plain append would double-count partials in
        rollups already written. Keying by epoch makes the replay
        idempotent — the retry overwrites exactly its own directory.
        The stream handler (``write_batch``) runs this for every rollup
        of a batch at once, each on its own thread; it touches only its
        own store, so the writes are independent.
        """
        self.partial(batch).write.mode("overwrite").parquet(
            os.path.join(self.store(root), f"epoch={epoch_id}"))

    def read_state(self, spark: SparkSession, root: str) -> DataFrame:
        """Merged (but unfinalized) rollup state: every epoch partial
        plus any compacted base, read against the declared
        ``state_schema`` (no schema-inference job) and merged by
        ``keys``.

        The plan follows the store's size, as Spark's file listing
        for the scan counts it. At most ``SINGLE_TASK_BYTES``, the scan
        is coalesced to one partition before the merge. ``Coalesce 1``
        reports a single partition, so the merge and whatever the
        caller stacks on it (a group-by, a top-k, ``collect()``) run as
        one job in one task, with no Exchange. A larger store keeps the
        shuffle, so its merge still spreads over the cores."""
        store = self.store(root)
        df = spark.read.schema(self.state_schema) \
                       .option("basePath", store) \
                       .parquet(store)
        # the bytes of the files Spark's listing found for this scan
        size = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
        if size <= SINGLE_TASK_BYTES:
            df = df.coalesce(1)
        return self._merged(df.drop("epoch"))

    def read(self, spark: SparkSession, root: str) -> DataFrame:
        """Read contract: merge partials lazily (identical to the
        reference querying its MV), then finalize for presentation."""
        merged = self.read_state(spark, root)
        if self.present_exprs is None:
            return merged
        return merged.select(*self.keys,
                             *[F.expr(e) for e in self.present_exprs])

    def recompute(self, transfers: DataFrame) -> DataFrame:
        """Batch recompute from scratch: one partial over the full
        table, merged and finalized — the invariant target that chunked
        streaming replay must reproduce exactly."""
        merged = self._merged(self.partial(transfers))
        if self.present_exprs is None:
            return merged
        return merged.select(*self.keys,
                             *[F.expr(e) for e in self.present_exprs])

    def compact(self, spark: SparkSession, root: str) -> None:
        """The background merge: collapse equal-key partials, keeping
        state mergeable. The merge is ``read_state``'s, so a store of
        at most ``SINGLE_TASK_BYTES`` is merged in one task and its base
        is written as a single file; a larger one keeps the shuffle and
        one file per reducer. The merged state is written COMPLETELY to a
        sibling directory (as the reserved ``epoch=-1`` partition) and
        swapped in with two directory renames — a crash before the swap
        leaves the original store untouched; the window is the renames
        themselves (a transactional table format closes it fully in a
        real deployment — this is the parquet-native approximation).

        Partials appended concurrently with a compact are NOT folded in
        and would be dropped by the swap — run compaction from the
        maintainer process between batches, like ClickHouse's merges.
        """
        import shutil

        merged = self.read_state(spark, root)
        final = self.store(root)
        staging = final + ".compacting"
        shutil.rmtree(staging, ignore_errors=True)
        merged.write.mode("overwrite").parquet(
            os.path.join(staging, BASE_PARTITION))
        old = final + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(final, old)
        os.rename(staging, final)
        shutil.rmtree(old, ignore_errors=True)


def _signed(batch: DataFrame) -> DataFrame:
    """Signed measures: value*_sign / _sign so retraction rows subtract."""
    return batch.select(
        "*",
        (F.col("value") * F.col("_sign")).alias("_svalue"),
        F.col("_sign").cast("long").alias("_scount"),
    )


def _daily_partial(batch: DataFrame) -> DataFrame:
    return (
        _signed(batch)
        .groupBy(block_range_day(F.col("block_number")).alias("block_range"),
                 "from_address", "to_address")
        .agg(F.sum("_svalue").alias("total_usdc"),
             F.sum("_scount").alias("tx_count"))
    )


def _hourly_partial(batch: DataFrame) -> DataFrame:
    return (
        _signed(batch)
        .groupBy(block_hour(F.col("block_number")).alias("block_hour"))
        .agg(F.sum("_svalue").alias("total_volume"),
             F.sum("_scount").alias("tx_count"))
    )


def _size_dist_partial(batch: DataFrame) -> DataFrame:
    return (
        _signed(batch)
        .groupBy(size_bucket(F.col("value")).alias("size_bucket"),
                 to_day(F.col("block_timestamp")).alias("day"))
        .agg(F.sum("_scount").alias("tx_count"),
             F.sum("_svalue").alias("total_volume"))
    )


def _top_senders_partial(batch: DataFrame) -> DataFrame:
    return (
        _signed(batch)
        .groupBy(block_range_day(F.col("block_number")).alias("block_range"),
                 "from_address")
        .agg(F.sum("_svalue").alias("total_sent"),
             F.sum("_scount").alias("tx_count"))
    )


def _top_receivers_partial(batch: DataFrame) -> DataFrame:
    return (
        _signed(batch)
        .groupBy(to_day(F.col("block_timestamp")).alias("day"), "to_address")
        .agg(F.sum("_svalue").alias("total_received"),
             F.sum("_scount").alias("tx_count"))
    )


def _top_addresses_partial(batch: DataFrame) -> DataFrame:
    """U1 union pivot per batch: sum-over-batches of a union equals the
    union of sums, so the pivot composes with incremental maintenance."""
    s = _signed(batch)
    sent = (
        s.groupBy(to_day(F.col("block_timestamp")).alias("day"),
                  F.col("from_address").alias("address"))
        .agg(F.sum("_svalue").alias("volume"), F.sum("_scount").alias("tx_count"))
        .withColumn("address_type", F.lit("sender"))
    )
    received = (
        s.groupBy(to_day(F.col("block_timestamp")).alias("day"),
                  F.col("to_address").alias("address"))
        .agg(F.sum("_svalue").alias("volume"), F.sum("_scount").alias("tx_count"))
        .withColumn("address_type", F.lit("receiver"))
    )
    cols = ["address", "address_type", "day", "volume", "tx_count"]
    return sent.select(*cols).unionByName(received.select(*cols))


def _hourly_uniq_partial(batch: DataFrame) -> DataFrame:
    """The reference's mv_usdc_hourly with real uniq() state
    (analytics.sql:24-38): Datasketches HLL sketches as binary state
    columns — ClickHouse AggregatingMergeTree uniqState. Mirrors the
    reference's ``WHERE _sign = 1`` (sketches are insert-only; a reorg
    cannot retract a distinct-actor observation, same as ClickHouse
    uniq over the CDC mirror)."""
    return (
        batch.filter(F.col("_sign") == 1)
        .groupBy(block_hour(F.col("block_number")).alias("block_hour"))
        .agg(F.sum("value").alias("total_volume"),
             F.count(F.lit(1)).alias("tx_count"),
             F.expr("hll_sketch_agg(from_address)").alias("senders_sk"),
             F.expr("hll_sketch_agg(to_address)").alias("receivers_sk"))
    )


INCREMENTAL_ROLLUPS: tuple[IncrementalRollup, ...] = (
    IncrementalRollup("daily", ("block_range", "from_address", "to_address"),
                      ("total_usdc", "tx_count"), _daily_partial, TRANSFERS),
    IncrementalRollup("hourly", ("block_hour",),
                      ("total_volume", "tx_count"), _hourly_partial,
                      TRANSFERS),
    IncrementalRollup("size_dist", ("size_bucket", "day"),
                      ("tx_count", "total_volume"), _size_dist_partial,
                      TRANSFERS),
    IncrementalRollup("top_senders", ("block_range", "from_address"),
                      ("total_sent", "tx_count"), _top_senders_partial,
                      TRANSFERS),
    IncrementalRollup("top_receivers", ("day", "to_address"),
                      ("total_received", "tx_count"), _top_receivers_partial,
                      TRANSFERS),
    IncrementalRollup("top_addresses", ("address", "address_type", "day"),
                      ("volume", "tx_count"), _top_addresses_partial,
                      TRANSFERS),
    IncrementalRollup(
        "hourly_uniq", ("block_hour",),
        ("total_volume", "tx_count", "senders_sk", "receivers_sk"),
        _hourly_uniq_partial, TRANSFERS,
        merge_exprs=("sum(total_volume) AS total_volume",
                     "sum(tx_count) AS tx_count",
                     "hll_union_agg(senders_sk) AS senders_sk",
                     "hll_union_agg(receivers_sk) AS receivers_sk"),
        present_exprs=("total_volume", "tx_count",
                       "hll_sketch_estimate(senders_sk) AS unique_senders",
                       "hll_sketch_estimate(receivers_sk) AS unique_receivers"),
    ),
)


def write_batch(rollups: tuple[IncrementalRollup, ...], batch: DataFrame,
                store_root: str, epoch_id: int) -> None:
    """The foreachBatch handler body: every rollup's ``process_batch``
    for one micro-batch, submitted together from a pool with one
    thread per rollup. A shard-sized write is almost all per-job
    overhead, so overlapping the writes costs about one write's latency
    instead of one per rollup. Each worker inherits the stream thread's
    local properties (``inheritable_thread_target``), so its jobs stay
    in the query's job group and ``query.stop()`` cancels them.

    Returns or re-raises only once every write has finished: a failed
    rollup never leaves a sibling still writing while the batch
    replays. The replay overwrites each rollup's epoch directory,
    written or not, so it stays idempotent."""
    inherit = inheritable_thread_target(batch.sparkSession)
    with ThreadPoolExecutor(max_workers=len(rollups)) as pool:
        futures = [pool.submit(inherit(r.process_batch), batch, store_root,
                               epoch_id)
                   for r in rollups]
    for f in futures:            # the pool has joined: all are done
        f.result()


def run_rollup_stream(spark: SparkSession, src_dir: str, store_root: str,
                      rollups: tuple[IncrementalRollup, ...],
                      available_now: bool = True):
    """Maintain a set of rollups from a streaming read of any source
    directory — the IncrementalRollup machinery is source-agnostic
    (a partial maps a batch to state rows; the stream reads the
    rollups' shared ``source_schema``). ``availableNow`` drains
    everything currently present and stops (test/backfill mode);
    without it the query tails the directory like the reference
    processor tails the chain."""
    checkpoint = os.path.join(store_root, "_checkpoint")

    # Epoch-keyed overwrite is only idempotent while epoch ids are
    # monotonic, which the checkpoint guarantees. A FRESH checkpoint
    # over a store that already holds partials would restart epochs at
    # 0 and silently overwrite some partial directories while stale
    # higher-epoch ones survive — a corrupted rollup. Fail fast instead:
    # either keep the checkpoint, or start from an empty store.
    if not os.path.isdir(checkpoint):
        populated = [r.name for r in rollups
                     if os.path.isdir(r.store(store_root))
                     and any(os.scandir(r.store(store_root)))]
        if populated:
            raise RuntimeError(
                f"store {store_root!r} already contains partials for "
                f"{populated} but no checkpoint exists at {checkpoint!r}; "
                "restarting epochs over existing partials would corrupt "
                "the rollups — reuse the original checkpoint or point at "
                "a fresh store_root")

    def handle(batch: DataFrame, epoch_id: int) -> None:
        write_batch(rollups, batch, store_root, epoch_id)

    stream = (
        spark.readStream.schema(rollups[0].source_schema).parquet(src_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_maintainer_stream(spark: SparkSession, transfers_dir: str,
                          store_root: str,
                          rollups: tuple[IncrementalRollup, ...] = INCREMENTAL_ROLLUPS,
                          available_now: bool = True):
    """The reference surface: maintain the transfers MVs."""
    return run_rollup_stream(spark, transfers_dir, store_root, rollups,
                             available_now)


def streaming_dedup_24h(spark: SparkSession, transfers_dir: str):
    """O5: sliding-retention dedup stream — watermark event time by 24 h
    and drop duplicate (transaction_hash, log_index) within the window
    (reference mv_recent_activity, analytics.sql:91-106: ReplacingMerge-
    Tree keyed on ts/tx/log over a 24 h slice). State is bounded by the
    watermark horizon at any scale."""
    stream = spark.readStream.schema(TRANSFERS).parquet(transfers_dir)
    return (
        stream.filter(F.col("_sign") == 1)
        .withWatermark("block_timestamp", "24 hours")
        # the event-time column MUST be part of the dedup key for Spark
        # to evict state past the watermark (otherwise state grows with
        # every key ever seen); it also matches the reference's
        # ReplacingMergeTree ORDER BY (ts, tx_hash, log_index) exactly
        .dropDuplicates(["block_timestamp", "transaction_hash", "log_index"])
        .select("block_timestamp", "transaction_hash", "log_index",
                "from_address", "to_address", "value", "block_number")
    )

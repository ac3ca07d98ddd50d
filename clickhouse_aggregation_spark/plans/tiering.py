"""Physical design: partitioned writes, hot/archive tiering, the
archive maintenance job, and the union compatibility view
(SURVEY.md §2.1 S8, §2.7 U2, §2.10 D4, §4).

Reference mapping:
  PARTITION BY intDiv(block,100000) / toYYYYMM  (analytics.sql:11,58)
      -> Hive-style ``partitionBy('block_bucket')`` parquet layout;
         Catalyst prunes partitions on literal block predicates
  MergeTree ORDER BY (from_address, to_address, ...) (analytics.sql:12)
      -> ``sortWithinPartitions`` before write: parquet row-group
         min/max stats give key-prefix skipping on the sorted columns
  archive_old_transfers() stored procedure (archive-strategy.sql:47-72)
      -> the same MAX → INSERT-SELECT → DELETE choreography as an
         idempotent parquet rewrite keeping the newest 3M blocks hot
  usdc_transfer_complete UNION ALL view (archive-strategy.sql:41-44)
      -> a temp view unioning the two parquet roots

At 100 TB: partition granularity 100k blocks ≈ 2 weeks of chain data
per partition; queries bounded by block/time touch only matching
directories (verified by tests/test_tiering.py via input-file counts),
and the sorted layout bounds row-group reads within each.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.bucketing import block_partition

BLOCK_PARTITION_GRANULARITY = 100_000   # analytics.sql:11
KEEP_HOT_BLOCKS = 3_000_000             # archive-strategy.sql:23,55


def write_partitioned(df: DataFrame, path: str,
                      granularity: int = BLOCK_PARTITION_GRANULARITY,
                      cluster_by: tuple[str, ...] = ("from_address", "to_address"),
                      mode: str = "overwrite") -> None:
    """Write transfers partitioned by block bucket, clustered within
    partitions by the MergeTree sort key."""
    (
        df.withColumn("block_bucket",
                      block_partition(F.col("block_number"), granularity))
        .repartition(F.col("block_bucket"))
        .sortWithinPartitions(*cluster_by)
        .write.mode(mode)
        .partitionBy("block_bucket")
        .parquet(path)
    )


def archive_old_transfers(spark: SparkSession, hot_dir: str, archive_dir: str,
                          keep_blocks: int = KEEP_HOT_BLOCKS,
                          granularity: int = BLOCK_PARTITION_GRANULARITY) -> int:
    """The reference's archive stored procedure (archive-strategy.sql:
    47-72): threshold = max(block) - keep_blocks; move older rows to the
    archive tier; rewrite the hot tier without them. Returns the number
    of archived rows.

    Implemented as partition-granular parquet moves: entire directories
    below the threshold move wholesale; only the single boundary
    partition is split by rewrite.

    The wholesale move is metadata-only on a POSIX filesystem (rename).
    On an object store (S3/GCS) a "rename" is copy+delete, so there the
    wholesale path costs one data copy — still no decode/re-encode, but
    not free; a real deployment fronts the tiers with a transactional
    table format (Iceberg/Delta) whose metadata swap restores the
    rename-cost contract.
    """
    hot = spark.read.parquet(hot_dir)
    max_block = hot.agg(F.max("block_number")).first()[0]
    if max_block is None:
        return 0
    threshold = max_block - keep_blocks
    old = hot.filter(F.col("block_number") < threshold)
    n_archived = old.count()
    if n_archived == 0:
        return 0

    bucket_of = threshold // granularity
    moved_whole: list[str] = []
    for entry in sorted(os.listdir(hot_dir)):
        if not entry.startswith("block_bucket="):
            continue
        bucket = int(entry.split("=", 1)[1])
        if bucket < bucket_of:
            os.makedirs(archive_dir, exist_ok=True)
            shutil.move(os.path.join(hot_dir, entry),
                        os.path.join(archive_dir, entry))
            moved_whole.append(entry)

    # boundary partition: rows below threshold inside bucket_of
    boundary = os.path.join(hot_dir, f"block_bucket={bucket_of}")
    if os.path.isdir(boundary):
        bdf = spark.read.parquet(boundary)
        below = bdf.filter(F.col("block_number") < threshold)
        if below.limit(1).count() > 0:
            below.write.mode("append").parquet(
                os.path.join(archive_dir, f"block_bucket={bucket_of}"))
            keep = bdf.filter(F.col("block_number") >= threshold)
            tmp = boundary + ".tmp"
            keep.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(boundary)
            os.rename(tmp, boundary)
    return n_archived


def transfers_complete_view(spark: SparkSession, hot_dir: str,
                            archive_dir: str,
                            view: str = "transfers_complete") -> DataFrame:
    """U2: the union compatibility view over both tiers
    (archive-strategy.sql:41-44)."""
    hot = spark.read.option("basePath", hot_dir).parquet(hot_dir)
    if os.path.isdir(archive_dir) and any(
            e.startswith("block_bucket=") for e in os.listdir(archive_dir)):
        archive = spark.read.option("basePath", archive_dir).parquet(archive_dir)
        complete = archive.unionByName(hot)
    else:
        complete = hot
    complete.createOrReplaceTempView(view)
    return complete

"""The dashboard queries over the maintained rollups, and their oracle.

Each query reads one rollup through ``IncrementalRollup.read`` and
applies a filter or top-k, as the README and monitoring dashboards do.
Parameters are relative to the chain tip (days or hours back, or an
address), so one parameter stream serves a growing store.

``ORACLE_SQL`` states the same queries in DuckDB over each rollup's
``recompute()`` output; the correctness gate compares the two.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, functions as F

from clickhouse_aggregation_spark.functions.bucketing import BLOCKS_PER_HOUR
from clickhouse_aggregation_spark.streaming.maintainer import (
    INCREMENTAL_ROLLUPS)

from gen import BLOCK0, DASHBOARD_QUERIES, GENESIS_EPOCH, SECONDS_PER_BLOCK

ROLLUPS = {r.name: r for r in INCREMENTAL_ROLLUPS}

# query name -> the rollup it reads. One query per rollup, so a cycle of
# all of them reads every maintained rollup once.
QUERIES = {
    "daily_volume_7d": "daily",
    "hourly_volume_24h": "hourly",
    "top_senders": "top_senders",
    "top_receivers_day": "top_receivers",
    "size_histogram": "size_dist",
    "hourly_uniques": "hourly_uniq",
    "address_pivot": "top_addresses",
}
if tuple(QUERIES) != DASHBOARD_QUERIES:
    raise ImportError("dashboard queries out of step with gen.py")


class Tip:
    """Resolves tip-relative parameters against the newest landed block."""

    def __init__(self, block: int) -> None:
        self.block = block
        self.hour = block // BLOCKS_PER_HOUR
        self.day = datetime.datetime.fromtimestamp(
            GENESIS_EPOCH + (block - BLOCK0) * SECONDS_PER_BLOCK,
            tz=datetime.timezone.utc).date()

    def resolve(self, query: str, param):
        if query == "top_receivers_day":
            return self.day - datetime.timedelta(days=param)
        if query == "hourly_uniques":
            return self.hour - param
        return param


def build(spark, store: str, query: str, value) -> DataFrame:
    """The Spark dashboard query over the store; ``value`` is resolved."""
    df = ROLLUPS[QUERIES[query]].read(spark, store)
    if query == "daily_volume_7d":
        return (df.groupBy("block_range")
                .agg(F.sum("total_usdc").alias("volume"),
                     F.sum("tx_count").alias("txs"))
                .orderBy(F.col("block_range").desc()).limit(7))
    if query == "hourly_volume_24h":
        return df.orderBy(F.col("block_hour").desc()).limit(24)
    if query == "top_senders":
        return (df.groupBy("from_address")
                .agg(F.sum("total_sent").alias("volume"))
                .orderBy(F.col("volume").desc(), "from_address").limit(10))
    if query == "top_receivers_day":
        return (df.filter(F.col("day") == F.lit(value))
                .orderBy(F.col("total_received").desc(), "to_address")
                .limit(10))
    if query == "size_histogram":
        return (df.groupBy("size_bucket")
                .agg(F.sum("tx_count").alias("txs"),
                     F.sum("total_volume").alias("volume"))
                .orderBy("size_bucket"))
    if query == "hourly_uniques":
        return (df.filter(F.col("block_hour").between(value - 23, value))
                .orderBy("block_hour"))
    if query == "address_pivot":
        return (df.filter(F.col("address") == value)
                .groupBy("address_type")
                .agg(F.sum("volume").alias("volume"),
                     F.sum("tx_count").alias("txs")))
    raise ValueError(f"unknown dashboard query {query!r}")


# DuckDB over tables named after the rollups, holding recompute() output;
# ``$p`` is the resolved parameter.
ORACLE_SQL = {
    "daily_volume_7d": """SELECT block_range, sum(total_usdc) AS volume,
        sum(tx_count) AS txs FROM daily GROUP BY 1 ORDER BY 1 DESC LIMIT 7""",
    "hourly_volume_24h": """SELECT * FROM hourly
        ORDER BY block_hour DESC LIMIT 24""",
    "top_senders": """SELECT from_address, sum(total_sent) AS volume
        FROM top_senders GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 10""",
    "top_receivers_day": """SELECT * FROM top_receivers WHERE day = $p
        ORDER BY total_received DESC, to_address LIMIT 10""",
    "size_histogram": """SELECT size_bucket, sum(tx_count) AS txs,
        sum(total_volume) AS volume FROM size_dist GROUP BY 1 ORDER BY 1""",
    "hourly_uniques": """SELECT * FROM hourly_uniq
        WHERE block_hour BETWEEN $p - 23 AND $p ORDER BY block_hour""",
    "address_pivot": """SELECT address_type, sum(volume) AS volume,
        sum(tx_count) AS txs FROM top_addresses WHERE address = $p
        GROUP BY 1""",
}

"""The reference's materialized-view rollups as Spark transforms
(SURVEY.md §2.4), plus their registry entries.

The reference maintains nine MV variants over the transfers table —
six in usdc-transfers/sql/analytics.sql:9-106 and three (timestamp-
bucketed variants) in usdc-transfers/scripts/setup-analytics.sh:46-113.
Each is a ``WHERE _sign = 1`` filter + grouped aggregation; the
SummingMergeTree/ReplacingMergeTree lazy-merge machinery is reproduced
by contract (reads re-aggregate; dedup = last ``_version`` wins), not
by engine code — see SURVEY.md §2.4 A5/A6.

Scale notes: every rollup is a single hash-aggregate over the fact
table — partial (map-side) + final after one shuffle on the group keys,
exactly the SummingMergeTree partial-merge model. No driver-side
collects; the 24 h "now()" anchor is a broadcast scalar join, so the
plan stays fully distributed at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.bucketing import (
    SIZE_BUCKET_SQL, block_hour, block_range_day, size_bucket,
    to_day, to_start_of_hour,
)
from ..sources.transfers import TRANSFERS_ORACLE_CTE, transfers_df
from .registry import register

# ---------------------------------------------------------------------------
# helpers

def oracle(body: str) -> str:
    """Prefix an oracle body with the transfers CTE."""
    return f"WITH {TRANSFERS_ORACLE_CTE}\n{body}"


def live(t: DataFrame) -> DataFrame:
    """Liveness predicate P4: exclude retracted CDC rows
    (reference: usdc-transfers/sql/analytics.sql:21 etc.)."""
    return t.filter(F.col("_sign") == 1)


# ---------------------------------------------------------------------------
# rollup transforms (used by the batch queries here and in queries.py;
# the streaming maintainer in streaming/maintainer.py keeps its own
# signed partials, which subtract reorg retractions these filter out)


def mv_usdc_daily_block(t: DataFrame) -> DataFrame:
    """analytics.sql:9-22 — daily rollup bucketed by block arithmetic."""
    return (
        live(t)
        .groupBy(
            block_range_day(F.col("block_number")).alias("block_range"),
            "from_address", "to_address")
        .agg(F.sum("value").alias("total_usdc"),
             F.count(F.lit(1)).alias("tx_count"))
    )


def mv_usdc_hourly_block(t: DataFrame, approx: bool = False) -> DataFrame:
    """analytics.sql:24-38 — hourly volume + unique senders/receivers.

    ``uniq()`` is a sketch in ClickHouse; `approx=True` maps it to
    ``approx_count_distinct`` (the honest equivalent, not oracle-
    hashable), `approx=False` to exact distinct for the oracle gate.

    OPTIMIZATION r12 (VERDICT r11 next-#8, guide §2.3): the exact form
    is a two-level re-aggregation (distinct (hour, addr) pre-aggregate
    per column, then per-hour counts joined back on the 721-row hour
    key) instead of one pass with two countDistincts — the
    RewriteDistinctAggregates Expand tripled every input row before
    the exchange. Same-session A/B: 2.27→1.98 s at sf0.5 (where the
    ×3 blowup dominates), 0.99 vs 1.03 s at sf0.1 (noise); values
    identical (hash-checksummed; the unpivot
    single-scan variant measured WORSE at sf0.5 and was rejected). At
    100 TB the pre-aggregates partial-combine map-side, so shuffle
    bytes scale with distinct pairs, not with 3× the fact rows. The
    approx form keeps the single pass — HLL partials need no Expand.
    """
    lv = live(t)
    h = block_hour(F.col("block_number")).alias("block_hour")
    if approx:
        return (
            lv.groupBy(h)
            .agg(F.sum("value").alias("total_volume"),
                 F.count(F.lit(1)).alias("tx_count"),
                 F.approx_count_distinct("from_address")
                 .alias("unique_senders"),
                 F.approx_count_distinct("to_address")
                 .alias("unique_receivers"))
        )
    base = lv.groupBy(h).agg(F.sum("value").alias("total_volume"),
                             F.count(F.lit(1)).alias("tx_count"))
    s = (lv.select(h, "from_address").distinct()
         .groupBy("block_hour")
         .agg(F.count(F.lit(1)).alias("unique_senders")))
    r = (lv.select(h, "to_address").distinct()
         .groupBy("block_hour")
         .agg(F.count(F.lit(1)).alias("unique_receivers")))
    return base.join(s, "block_hour").join(r, "block_hour")


def mv_top_senders(t: DataFrame) -> DataFrame:
    """analytics.sql:41-53 — per-day-bucket sender totals."""
    return (
        live(t)
        .groupBy(block_range_day(F.col("block_number")).alias("block_range"),
                 "from_address")
        .agg(F.sum("value").alias("total_sent"),
             F.count(F.lit(1)).alias("tx_count"))
    )


def mv_top_receivers(t: DataFrame) -> DataFrame:
    """analytics.sql:56-68 — per-calendar-day receiver totals."""
    return (
        live(t)
        .groupBy(to_day(F.col("block_timestamp")).alias("day"), "to_address")
        .agg(F.sum("value").alias("total_received"),
             F.count(F.lit(1)).alias("tx_count"))
    )


def mv_tx_size_distribution(t: DataFrame) -> DataFrame:
    """analytics.sql:71-88 — multiIf histogram by day."""
    return (
        live(t)
        .groupBy(size_bucket(F.col("value")).alias("size_bucket"),
                 to_day(F.col("block_timestamp")).alias("day"))
        .agg(F.count(F.lit(1)).alias("tx_count"),
             F.sum("value").alias("total_volume"))
    )


def mv_recent_activity(t: DataFrame, window_hours: int = 24) -> DataFrame:
    """analytics.sql:91-106 — last-24 h view with ReplacingMergeTree
    dedup: key (block_timestamp, transaction_hash, log_index), last
    ``_version`` wins (A6). ``now()`` is anchored to max(block_timestamp)
    so results are deterministic on a static fixture.

    The anchor is a broadcast one-row join (no collect); the dedup is a
    window over the retention slice only — tiny state at any scale.
    """
    lv = live(t)
    anchor = lv.agg(F.max("block_timestamp").alias("_max_ts"))
    recent = (
        lv.join(F.broadcast(anchor))
        .filter(F.col("block_timestamp")
                >= F.col("_max_ts") - F.expr(f"INTERVAL {window_hours} HOURS"))
    )
    w = Window.partitionBy("block_timestamp", "transaction_hash", "log_index") \
              .orderBy(F.col("_version").desc())
    return (
        recent.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("block_timestamp", "transaction_hash", "log_index",
                "from_address", "to_address", "value", "block_number")
    )


def mv_usdc_daily_ts(t: DataFrame) -> DataFrame:
    """setup-analytics.sh:46-61 — daily rollup bucketed by toDate(ts)."""
    return (
        live(t)
        .groupBy(to_day(F.col("block_timestamp")).alias("day"),
                 "from_address", "to_address")
        .agg(F.sum("value").alias("total_usdc"),
             F.count(F.lit(1)).alias("tx_count"))
    )


def mv_usdc_hourly_ts(t: DataFrame, approx: bool = False) -> DataFrame:
    """setup-analytics.sh:64-81 — hourly rollup by toStartOfHour(ts)."""
    uniq = F.approx_count_distinct if approx else F.countDistinct
    return (
        live(t)
        .groupBy(to_start_of_hour(F.col("block_timestamp")).alias("hour"))
        .agg(F.sum("value").alias("total_volume"),
             F.count(F.lit(1)).alias("tx_count"),
             uniq(F.col("from_address")).alias("unique_senders"),
             uniq(F.col("to_address")).alias("unique_receivers"))
    )


def mv_top_addresses(t: DataFrame) -> DataFrame:
    """setup-analytics.sh:85-113 — UNION ALL pivot of senders+receivers
    into one (address, address_type) rollup (U1)."""
    lv = live(t)
    sent = (
        lv.groupBy(to_day(F.col("block_timestamp")).alias("day"),
                   F.col("from_address").alias("address"))
        .agg(F.sum("value").alias("volume"),
             F.count(F.lit(1)).alias("tx_count"))
        .withColumn("address_type", F.lit("sender"))
    )
    received = (
        lv.groupBy(to_day(F.col("block_timestamp")).alias("day"),
                   F.col("to_address").alias("address"))
        .agg(F.sum("value").alias("volume"),
             F.count(F.lit(1)).alias("tx_count"))
        .withColumn("address_type", F.lit("receiver"))
    )
    cols = ["address", "address_type", "volume", "tx_count", "day"]
    return sent.select(*cols).unionByName(received.select(*cols))


# ---------------------------------------------------------------------------
# registry entries (declared queries with DuckDB oracles)


@register(
    "mv_usdc_daily_block",
    oracle=oracle("""
SELECT cast(block_number as bigint) // 7200 AS block_range,
       from_address, to_address,
       sum(value) AS total_usdc, count(*) AS tx_count
FROM transfers WHERE _sign = 1
GROUP BY 1, 2, 3"""),
    doc="Daily rollup by block arithmetic (analytics.sql:9-22; A1,A2,A4,F1,P4)",
)
def q_mv_usdc_daily_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mv_usdc_daily_block(transfers_df(spark, sf_dir))


@register(
    "mv_usdc_hourly_block",
    oracle=oracle("""
SELECT cast(block_number as bigint) // 300 AS block_hour,
       sum(value) AS total_volume, count(*) AS tx_count,
       count(DISTINCT from_address) AS unique_senders,
       count(DISTINCT to_address) AS unique_receivers
FROM transfers WHERE _sign = 1
GROUP BY 1"""),
    doc="Hourly volume + distinct senders/receivers (analytics.sql:24-38; A3 exact form)",
)
def q_mv_usdc_hourly_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mv_usdc_hourly_block(transfers_df(spark, sf_dir))


@register(
    "mv_usdc_hourly_block_approx",
    oracle=None,   # sketch-based: estimates differ across engines by design
    doc="Hourly rollup with approx_count_distinct = ClickHouse uniq() (A3)",
    tags=("approx",),
)
def q_mv_usdc_hourly_block_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mv_usdc_hourly_block(transfers_df(spark, sf_dir), approx=True)


@register(
    "approx_uniq_tolerance",
    oracle=oracle("""
, hourly AS (
  SELECT cast(block_number as bigint) // 300 AS block_hour,
         count(DISTINCT from_address) AS exact_senders,
         count(DISTINCT to_address) AS exact_receivers
  FROM transfers WHERE _sign = 1 GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(count(*) AS BIGINT) AS senders_within_tol,
       CAST(count(*) AS BIGINT) AS receivers_within_tol
FROM hourly"""),
    doc="Hard driver-checkable gate on the A3 sketch form: per hour "
        "bucket, |approx_count_distinct - exact| must be within "
        "greatest(4*rsd*exact, 3) — relative bound for real "
        "cardinalities, small absolute slack for tiny buckets where "
        "HLL error is quantized to whole counts. The oracle predicts "
        "every bucket within tolerance, so any sketch regression "
        "hash-mismatches. ClickHouse uniq() contract "
        "(analytics.sql:24-38). The bound is 4 sigma, not 3: the gate "
        "takes the MAX over 721 buckets x 2 columns = 1442 estimates, "
        "and P(any >3 sigma) ~ 1 at that trial count (the round-5 "
        "sf1.0 sweep measured max 0.172 = 3.4 sigma, concentrated in "
        "HLL++'s sparse-to-dense transition around n~1000); "
        "P(any >4 sigma) ~ 0.09 over 1442. Measured max error: 0.130 "
        "(sf0.1), 0.158 (sf0.5), 0.172 (sf1.0) vs the 0.20 bound.",
    tags=("approx",),
)
def q_approx_uniq_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OPTIMIZATION r12 (VERDICT r11 next-#8, guide §2.3): exact AND
    # approx counts both ride one distinct (hour, addr) pre-aggregate
    # per column — exact = count of the distinct pairs, approx =
    # approx_count_distinct over the distinct values, which is
    # BIT-IDENTICAL to running it over the raw rows (HLL registers are
    # max-merged per hashed value, so duplicates never change the
    # sketch). Replaces the mixed countDistinct+approx single pass
    # whose RewriteDistinctAggregates Expand tripled the input rows.
    # Same-session A/B (hash-checksummed):
    # 1.28→0.92 s at sf0.1, 2.18→1.85 s at sf0.5.
    rsd = 0.05
    lv = live(transfers_df(spark, sf_dir))
    h = block_hour(F.col("block_number")).alias("block_hour")
    s = (lv.select(h, "from_address").distinct()
         .groupBy("block_hour")
         .agg(F.count(F.lit(1)).alias("exact_s"),
              F.approx_count_distinct("from_address", rsd)
              .alias("approx_s")))
    r = (lv.select(h, "to_address").distinct()
         .groupBy("block_hour")
         .agg(F.count(F.lit(1)).alias("exact_r"),
              F.approx_count_distinct("to_address", rsd)
              .alias("approx_r")))
    hourly = s.join(r, "block_hour")

    def within(approx: Column, exact: Column) -> Column:
        slack = F.greatest(F.lit(4 * rsd) * exact, F.lit(3))
        return (F.abs(approx - exact) <= slack).cast("long")

    return hourly.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(within(F.col("approx_s"), F.col("exact_s")))
         .alias("senders_within_tol"),
        F.sum(within(F.col("approx_r"), F.col("exact_r")))
         .alias("receivers_within_tol"),
    )


@register(
    "mv_top_senders",
    oracle=oracle("""
SELECT cast(block_number as bigint) // 7200 AS block_range, from_address,
       sum(value) AS total_sent, count(*) AS tx_count
FROM transfers WHERE _sign = 1
GROUP BY 1, 2"""),
    doc="Sender rollup (analytics.sql:41-53)",
)
def q_mv_top_senders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mv_top_senders(transfers_df(spark, sf_dir))


@register(
    "mv_top_receivers",
    oracle=oracle("""
SELECT CAST(block_timestamp AS DATE) AS day, to_address,
       sum(value) AS total_received, count(*) AS tx_count
FROM transfers WHERE _sign = 1
GROUP BY 1, 2"""),
    doc="Receiver rollup by calendar day (analytics.sql:56-68; F3)",
)
def q_mv_top_receivers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mv_top_receivers(transfers_df(spark, sf_dir))


@register(
    "mv_tx_size_distribution",
    oracle=oracle(f"""
SELECT {SIZE_BUCKET_SQL} AS size_bucket,
       CAST(block_timestamp AS DATE) AS day,
       count(*) AS tx_count, sum(value) AS total_volume
FROM transfers WHERE _sign = 1
GROUP BY 1, 2"""),
    doc="multiIf histogram by day (analytics.sql:71-88; A10,F2)",
)
def q_mv_tx_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mv_tx_size_distribution(transfers_df(spark, sf_dir))


@register(
    "mv_recent_activity",
    oracle=oracle("""
, live AS (SELECT * FROM transfers WHERE _sign = 1),
recent AS (
  SELECT * FROM live
  WHERE block_timestamp >= (SELECT max(block_timestamp) FROM live) - INTERVAL 24 HOUR
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY block_timestamp, transaction_hash, log_index
      ORDER BY _version DESC) AS _rn
  FROM recent
)
SELECT block_timestamp, transaction_hash, log_index,
       from_address, to_address, value, block_number
FROM ranked WHERE _rn = 1"""),
    doc="24h ReplacingMergeTree dedup view (analytics.sql:91-106; A6,O5,P5,F6,F7)",
)
def q_mv_recent_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # wide=True: the ReplacingMergeTree window shuffles full rows, so
    # the synthesis is the map stage (transfers_df docstring; measured
    # 1.00 -> 0.65 s at sf0.1)
    return mv_recent_activity(transfers_df(spark, sf_dir, wide=True))


@register(
    "mv_usdc_daily_ts",
    oracle=oracle("""
SELECT CAST(block_timestamp AS DATE) AS day, from_address, to_address,
       sum(value) AS total_usdc, count(*) AS tx_count
FROM transfers WHERE _sign = 1
GROUP BY 1, 2, 3"""),
    doc="Daily rollup by toDate(ts) (setup-analytics.sh:46-61)",
)
def q_mv_usdc_daily_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mv_usdc_daily_ts(transfers_df(spark, sf_dir))


@register(
    "mv_usdc_hourly_ts",
    oracle=oracle("""
SELECT date_trunc('hour', block_timestamp) AS hour,
       sum(value) AS total_volume, count(*) AS tx_count,
       count(DISTINCT from_address) AS unique_senders,
       count(DISTINCT to_address) AS unique_receivers
FROM transfers WHERE _sign = 1
GROUP BY 1"""),
    doc="Hourly rollup by toStartOfHour (setup-analytics.sh:64-81; F4)",
)
def q_mv_usdc_hourly_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mv_usdc_hourly_ts(transfers_df(spark, sf_dir))


@register(
    "mv_top_addresses",
    oracle=oracle("""
, live AS (SELECT * FROM transfers WHERE _sign = 1)
SELECT from_address AS address, 'sender' AS address_type,
       sum(value) AS volume, count(*) AS tx_count,
       CAST(block_timestamp AS DATE) AS day
FROM live GROUP BY 1, 2, 5
UNION ALL
SELECT to_address AS address, 'receiver' AS address_type,
       sum(value) AS volume, count(*) AS tx_count,
       CAST(block_timestamp AS DATE) AS day
FROM live GROUP BY 1, 2, 5"""),
    doc="UNION ALL sender/receiver pivot (setup-analytics.sh:85-113; U1)",
)
def q_mv_top_addresses(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mv_top_addresses(transfers_df(spark, sf_dir))


@register(
    "mv_volume_rollup_subtotals",
    oracle=oracle(f"""
, base AS (
  SELECT cast(block_number as bigint) // 7200 AS day_bucket,
         {SIZE_BUCKET_SQL} AS size_bucket, value
  FROM transfers WHERE _sign = 1
)
SELECT coalesce(day_bucket, -1) AS day_bucket,
       coalesce(size_bucket, 'ALL') AS size_bucket,
       count(*) AS tx_count, sum(value) AS total_volume
FROM base
GROUP BY ROLLUP (day_bucket, size_bucket)"""),
    doc="Hierarchical subtotals via GROUP BY ROLLUP(day, size bucket): "
        "per-bucket rows, per-day subtotals, and the grand total in ONE "
        "grouped aggregation (Spark expands the grouping sets inside a "
        "single hash-aggregate pair — no self-union, no extra scans; "
        "ClickHouse-parity for its GROUPING SETS/ROLLUP modifiers, "
        "beyond the reference's plain GROUP BYs). Subtotal NULL keys "
        "are canonicalized to -1/'ALL' sentinels (inputs are non-null) "
        "so both engines hash identically.",
)
def q_mv_volume_rollup_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = live(transfers_df(spark, sf_dir))
    base = t.select(
        block_range_day(F.col("block_number")).alias("day_bucket"),
        size_bucket(F.col("value")).alias("size_bucket"), "value")
    return (
        base.rollup("day_bucket", "size_bucket")
        .agg(F.count(F.lit(1)).alias("tx_count"),
             F.sum("value").alias("total_volume"))
        .select(F.coalesce(F.col("day_bucket"), F.lit(-1)).alias("day_bucket"),
                F.coalesce(F.col("size_bucket"), F.lit("ALL")).alias("size_bucket"),
                "tx_count", "total_volume")
    )


@register(
    "mv_daily_with_fill",
    oracle=oracle("""
, daily AS (
  SELECT CAST(block_timestamp AS DATE) AS day,
         sum(value) AS total_usdc, count(*) AS tx_count
  FROM transfers WHERE _sign = 1
  GROUP BY 1
), bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
series AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                     CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
)
SELECT s.day,
       coalesce(d.total_usdc, 0) AS total_usdc,
       CAST(coalesce(d.tx_count, 0) AS BIGINT) AS tx_count
FROM series s LEFT JOIN daily d ON d.day = s.day"""),
    doc="ClickHouse ORDER BY ... WITH FILL parity: the daily volume "
        "rollup densified to every calendar day between min and max, "
        "missing days zero-filled. The date spine is sequence() over "
        "the 1-row bounds aggregate (broadcast), exploded and left-"
        "joined to the rollup — spine size ∝ days, never ∝ rows, so "
        "the fill costs one broadcast join at any scale.",
)
def q_mv_daily_with_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = live(transfers_df(spark, sf_dir))
    daily = (t.groupBy(to_day(F.col("block_timestamp")).alias("day"))
             .agg(F.sum("value").alias("total_usdc"),
                  F.count(F.lit(1)).alias("tx_count")))
    spine = (daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
             .select(F.explode(F.expr(
                 "sequence(lo, hi, interval 1 day)")).alias("day")))
    return (
        F.broadcast(spine).join(daily, "day", "left")
        .select("day",
                F.coalesce(F.col("total_usdc"),
                           F.lit(0).cast("decimal(38,0)")).alias("total_usdc"),
                F.coalesce(F.col("tx_count"), F.lit(0)).cast("long")
                 .alias("tx_count"))
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch re-aggregation (A3 + A5 composed, batch form): the
# ClickHouse uniqState/uniqMerge contract — per-day HLL sketch states
# union-merged into a global estimate WITHOUT touching raw rows again.
# This is the sketch path the streaming maintainer uses incrementally
# (streaming/maintainer.py hll_union_agg); here it gets a batch twin
# under the external hash gate. Estimates are engine-specific, so the
# checked claim is the approx_uniq_tolerance pattern: the merged
# estimate must land within 5% (+3 absolute) of the exact global
# distinct — the oracle predicts within-tolerance for the merge, and
# exact values for everything else. At 100 TB the daily sketch table
# is ~KB per day; re-aggregation cost is independent of corpus size.


@register(
    "uniq_hll_merge_rollup",
    oracle=oracle("""
, daily AS (
  SELECT cast(block_number as bigint) // 7200 AS block_range,
         count(DISTINCT from_address) AS exact_day
  FROM transfers WHERE _sign = 1 GROUP BY 1
),
tot AS (
  SELECT count(DISTINCT from_address) AS exact_total
  FROM transfers WHERE _sign = 1
)
SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
       CAST((SELECT sum(exact_day) FROM daily) AS BIGINT) AS sum_daily_exact,
       CAST((SELECT exact_total FROM tot) AS BIGINT) AS exact_total,
       CAST(1 AS BIGINT) AS merged_within_tol"""),
    doc="uniqState/uniqMerge parity: per-day HLL sketches (lgK=14) "
        "union-merged to one global estimate, gated within 5%+3 of "
        "the exact global count(DISTINCT). Daily partials + exact "
        "totals are hash-checked exactly; the estimate crosses the "
        "gate as a within-tolerance boolean (sketch bits are engine-"
        "specific by design). Merge cost ∝ days, not rows.",
    tags=("approx",),
)
def q_uniq_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lv = live(transfers_df(spark, sf_dir))
    daily = (
        lv.groupBy(block_range_day(F.col("block_number")).alias("block_range"))
        .agg(F.expr("hll_sketch_agg(from_address, 14)").alias("sk"),
             F.countDistinct("from_address").alias("exact_day")))
    merged = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("exact_day").cast("long").alias("sum_daily_exact"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
    total = lv.agg(
        F.countDistinct("from_address").cast("long").alias("exact_total"))
    j = merged.crossJoin(F.broadcast(total))   # two 1-row frames
    tol = F.greatest(F.lit(0.05) * F.col("exact_total"), F.lit(3))
    return j.select(
        "n_days", "sum_daily_exact", "exact_total",
        (F.abs(F.col("est") - F.col("exact_total")) <= tol)
        .cast("long").alias("merged_within_tol"))

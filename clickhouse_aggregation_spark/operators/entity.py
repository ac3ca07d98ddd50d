"""Entity/serving-layer query surface (SURVEY.md §2.1 S10) and the
tumbling-window aggregation (§2.9 O6).

The reference serves a GraphQL API over the primary store —
by-id gets, indexed field filters, pagination (usdc-transfers/
schema.graphql:1-8, commands.json:58-68, indexes in db/migrations/
1691424065505-Data.js:6-8). The equivalent capability here is plain
DataFrame filtering; at scale the by-id/by-address paths ride on
partition pruning + parquet column stats instead of B-tree indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import load_table
from ..sources.transfers import transfers_df
from .registry import register
from .rollups import oracle


@register(
    "entity_by_id",
    oracle=oracle("""
SELECT log_id, block_number, block_timestamp, log_index, transaction_hash,
       from_address, to_address, value, _sign, _version
FROM transfers
WHERE log_id = (SELECT min(log_id) FROM transfers)"""),
    doc="GraphQL by-id get (S10): point lookup on the primary key. "
        "At scale: block prefix of the log_id prunes to one partition, "
        "parquet min/max stats skip row groups within it.",
)
def q_entity_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transfers_df(spark, sf_dir, wide=True)   # full-width point read
    target = t.agg(F.min("log_id").alias("_target"))
    return t.join(F.broadcast(target), t.log_id == F.col("_target")) \
            .drop("_target")


@register(
    "entity_filter_paginated",
    oracle=oracle("""
, target AS (SELECT min(from_address) AS addr FROM transfers)
SELECT log_id, block_number, from_address, to_address, value
FROM transfers, target
WHERE from_address = target.addr AND _sign = 1
ORDER BY block_number, log_index, _version
LIMIT 5 OFFSET 5"""),
    doc="GraphQL indexed-field filter + pagination (S10): equality on "
        "an indexed column, deterministic order, limit/offset. The "
        "index is replaced by predicate pushdown to parquet stats.",
)
def q_entity_filter_paginated(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transfers_df(spark, sf_dir)
    target = t.agg(F.min("from_address").alias("_addr"))
    return (
        t.join(F.broadcast(target), t.from_address == F.col("_addr"))
        .filter(F.col("_sign") == 1)
        .orderBy("block_number", "log_index", "_version")
        .offset(5).limit(5)
        .select("log_id", "block_number", "from_address", "to_address", "value")
    )


@register(
    "events_hourly_window",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       sum(CAST(value AS DECIMAL(18,2))) AS total_value
FROM events
GROUP BY 1, 2""",
    doc="Tumbling 1-hour window aggregation via F.window (O6) — the "
        "batch twin of the streaming windowed aggregate; window.start "
        "equals date_trunc('hour') for tumbling windows.",
)
def q_events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


@register(
    "events_value_quantiles",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       min(CASE WHEN rn >= (n * 50 + 99) // 100 THEN value END) AS p50,
       min(CASE WHEN rn >= (n * 90 + 99) // 100 THEN value END) AS p90,
       min(CASE WHEN rn >= (n * 99 + 99) // 100 THEN value END) AS p99,
       CAST(3 AS BIGINT) AS approx_within_tol
FROM ranked
GROUP BY event_type, n""",
    doc="Per-type value quantiles, both forms of the ClickHouse "
        "quantile() family (analytics.sql's uniq() cousin): EXACT "
        "discrete quantiles via the deterministic rank rule "
        "k = ceil(n*p) (min value at/after rank k — tie-order "
        "invariant, integer-arithmetic rank so both engines pick the "
        "identical element), computed by distributed histogram "
        "refinement (quantiles.py — no per-group reducer sort), plus "
        "a hard driver-checkable gate on the SKETCH form: "
        "percentile_approx(·, p, 10000) must land within rank "
        "tolerance n/10000 (+1 slack) of the target rank — "
        "approx_within_tol counts the quantiles (of 3) that do, and "
        "the oracle predicts all 3. Same tolerance pattern as "
        "approx_uniq_tolerance (A3).",
    tags=("approx",),
)
def q_events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .quantiles import grouped_exact_quantiles

    ev = load_table(spark, sf_dir, "events")

    # exact discrete quantiles via distributed histogram refinement
    # (quantiles.py): a row_number window partitioned by the 5 event
    # types would funnel each type through ONE reducer — the skewed-
    # sort scale-killer this avoids
    exact = (grouped_exact_quantiles(ev, "event_type", "value",
                                     [50, 90, 99])
             .select("event_type", "n",
                     F.col("q_50").alias("p50"),
                     F.col("q_90").alias("p90"),
                     F.col("q_99").alias("p99")))

    # sketch pass (percentile_approx = ClickHouse quantile()): verify
    # each estimate's true rank lands within the sketch's rank-error
    # bound. cnt_lt/cnt_le bracket the estimate's rank interval under
    # ties; the interval must overlap [ceil(n*p) - tol, ceil(n*p) + tol]
    approx = (ev.groupBy("event_type")
              .agg(F.percentile_approx("value", [0.5, 0.9, 0.99], 10_000)
                    .alias("_q")))
    checked = (ev.join(F.broadcast(approx), "event_type")
               .groupBy("event_type")
               .agg(*[F.sum(F.when(F.col("value") < F.element_at("_q", i + 1),
                                   1).otherwise(0)).alias(f"lt{i}")
                      for i in range(3)],
                    *[F.sum(F.when(F.col("value") <= F.element_at("_q", i + 1),
                                   1).otherwise(0)).alias(f"le{i}")
                      for i in range(3)]))

    def within(i: int, pct: int) -> F.Column:
        k = F.expr(f"(n * {pct} + 99) DIV 100")
        tol = F.expr("n DIV 10000 + 1")
        ok = (F.col(f"lt{i}") + 1 <= k + tol) & (F.col(f"le{i}") >= k - tol)
        return F.when(ok, 1).otherwise(0)

    return (exact.join(checked, "event_type")
            .select("event_type",
                    F.col("n").cast("long").alias("n"),
                    "p50", "p90", "p99",
                    (within(0, 50) + within(1, 90) + within(2, 99))
                    .cast("long").alias("approx_within_tol")))


# ---------------------------------------------------------------------------
# Integer-exact z-score outlier detection over event values.
#
# Anomaly flagging (|x - mean| > 3 sigma per event type) normally runs
# on floating moments, whose partition-order-dependent double sums
# would flake a byte-exact cross-engine gate. Here every value is an
# exact cent count, and the 3-sigma test is algebraically cleared of
# division:   (n*x - s)^2 > 9 * (n*ss - s^2)
# with n = count, s = sum(cents), ss = sum(cents^2) — all integer
# arithmetic (Spark DECIMAL(38,0) / DuckDB HUGEINT for the wide
# intermediates), so the flags are engine-exact. 100 TB note: the
# decimal accumulators exist precisely because n*ss overflows int64
# well below cluster scale; DECIMAL(38,0) gives 1e38 of headroom.

OUTLIER_SIGMAS_SQ = 9      # 3 sigma


@register(
    "events_value_outliers",
    oracle=f"""
WITH c AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
stats AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(cents) AS HUGEINT) AS s,
         sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS ss
  FROM c GROUP BY event_type
)
SELECT c.event_type,
       CAST(max(stats.n) AS BIGINT) AS n_events,
       CAST(max(stats.s) AS BIGINT) AS sum_cents,
       CAST(max(c.cents) AS BIGINT) AS max_cents,
       CAST(count(CASE WHEN
              (stats.n * c.cents - stats.s) * (stats.n * c.cents - stats.s)
              > {OUTLIER_SIGMAS_SQ} * (stats.n * stats.ss - stats.s * stats.s)
            THEN 1 END) AS BIGINT) AS n_outliers_3sigma
FROM c JOIN stats ON stats.event_type = c.event_type
GROUP BY c.event_type""",
    doc="Per-event-type 3-sigma outlier counts with integer-exact "
        "moments: cents are exact, the sigma test is cleared of "
        "division, and wide intermediates ride DECIMAL(38,0)/HUGEINT. "
        "Plan: one map-side-combinable stats aggregate (5 groups), "
        "broadcast back over the scan, one tiny rollup — two passes "
        "over the data, zero wide shuffles.",
)
def q_events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    dec = "decimal(38,0)"
    stats = (c.groupBy("event_type")
             .agg(F.count(F.lit(1)).cast(dec).alias("n"),
                  F.sum("cents").cast(dec).alias("s"),
                  F.sum(F.col("cents").cast(dec) * F.col("cents").cast(dec))
                   .alias("ss")))
    j = c.join(F.broadcast(stats), "event_type")
    diff = F.col("n") * F.col("cents") - F.col("s")
    is_out = (diff * diff
              > OUTLIER_SIGMAS_SQ * (F.col("n") * F.col("ss")
                                     - F.col("s") * F.col("s")))
    return (j.groupBy("event_type")
            .agg(F.max("n").cast("long").alias("n_events"),
                 F.max("s").cast("long").alias("sum_cents"),
                 F.max("cents").cast("long").alias("max_cents"),
                 F.count(F.when(is_out, 1)).cast("long")
                  .alias("n_outliers_3sigma")))


# ---------------------------------------------------------------------------
# JSON property extraction rollup — ClickHouse's JSONExtract* family
# (reference model stores typed props; semi-structured event payloads
# are the common real-world shape). The extraction is a row-local
# expression (Spark get_json_object / DuckDB json_extract_string), so
# the scan stays a linear pass and the only shuffle is the 5-group
# rollup. All reported moments are integer-exact (k is an integer in
# the corpus; no double sums cross the hash gate).


@register(
    "events_props_json_stats",
    oracle="""
WITH k AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT k) AS BIGINT) AS distinct_k
FROM k GROUP BY event_type""",
    doc="JSONExtract parity: per-event-type rollup of the integer "
        "props.k JSON field (count/min/max/sum/distinct). Extraction "
        "is a row-local JVM expression — no UDF, no shuffle beyond "
        "the tiny rollup; at scale the JSON parse fuses into the scan "
        "pipeline under whole-stage codegen.",
)
def q_events_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = events.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"))
    return (k.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("k").cast("long").alias("n_with_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        F.sum("k").cast("long").alias("sum_k"),
        F.countDistinct("k").cast("long").alias("distinct_k")))


# ---------------------------------------------------------------------------
# Statistical aggregates — ClickHouse corr()/covarPop()/
# simpleLinearRegression() parity, made oracle-exact the same way as
# the 3-sigma outlier op: every moment (n, Σx, Σy, Σxy, Σx², Σy²) is
# an exact integer riding DECIMAL(38,0) (Spark) / HUGEINT (DuckDB),
# and the float math (two sqrts, three divisions) happens ONCE at the
# end on byte-identical integer inputs, so both engines produce the
# same double bit-for-bit. x = props.k (integer), y = value in cents.


@register(
    "events_value_k_regression",
    oracle="""
WITH m AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS HUGEINT) AS x,
         CAST(round(value * 100) AS HUGEINT) AS y
  FROM events
),
mo AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM m GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       CAST(sx AS BIGINT) AS sum_k,
       CAST(sy AS BIGINT) AS sum_cents,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       (CAST(sy AS DOUBLE)
        - (CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept
FROM mo""",
    doc="corr()/simpleLinearRegression() parity: Pearson correlation "
        "and OLS slope/intercept of value-cents on props.k per event "
        "type. Moments are exact integers in DECIMAL(38,0)/HUGEINT; "
        "doubles appear only in the final one-shot expressions, so "
        "results are engine-identical. One combinable aggregate over "
        "a linear scan — the classic map-side-mergeable moments form.",
)
def q_events_value_k_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    m = events.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").cast(dec).alias("x"),
        F.round(F.col("value") * 100).cast("long").cast(dec).alias("y"))
    mo = m.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    dx = (n * F.col("sxx") - sx * sx).cast("double")
    dy = (n * F.col("syy") - sy * sy).cast("double")
    slope = num / dx
    return mo.select(
        "event_type",
        n.cast("long").alias("n_events"),
        sx.cast("long").alias("sum_k"),
        sy.cast("long").alias("sum_cents"),
        (num / (F.sqrt(dx) * F.sqrt(dy))).alias("corr"),
        slope.alias("slope"),
        ((sy.cast("double") - slope * sx.cast("double"))
         / n.cast("double")).alias("intercept"))


# ---------------------------------------------------------------------------
# entropy() parity — Shannon entropy of the props.k distribution per
# event type. Floats cannot be avoided here (log2 is irrational), so
# determinism comes from pinning the SUMMATION ORDER: per-key counts
# are folded in sorted-key order on both engines (sorted array fold —
# never a parallel float sum), and the result is rounded to 6
# decimals so sub-ulp libm differences between JVM and DuckDB log2
# cannot reach the hash gate. Counts themselves stay exact integers.


@register(
    "events_k_entropy",
    oracle="""
WITH c AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
arr AS (
  SELECT event_type,
         CAST(sum(cnt) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS distinct_k,
         list(CAST(cnt AS DOUBLE) ORDER BY k NULLS FIRST) AS cs
  FROM c GROUP BY event_type
)
SELECT event_type, n AS n_events, distinct_k,
       round(log2(CAST(n AS DOUBLE))
             - list_sum(list_transform(cs, x -> x * log2(x)))
               / CAST(n AS DOUBLE), 6) AS entropy_bits
FROM arr""",
    doc="ClickHouse entropy() parity: Shannon entropy (bits) of the "
        "props.k distribution per event type. Per-key counts are "
        "exact; the float fold runs in sorted-key order on both "
        "engines (no parallel float summation) and rounds to 6 "
        "decimals to absorb libm ulp differences. Two combinable "
        "aggregates; the per-type array is |distinct k| elements. "
        "Null-k ordering is pinned on BOTH engines (Spark sort_array "
        "is ascending nulls-first; the oracle says NULLS FIRST "
        "explicitly) so the summation order is engine-identical even "
        "when some events lack props.k.",
)
def q_events_k_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = (events.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"))
         .groupBy("event_type", "k")
         .agg(F.count(F.lit(1)).alias("cnt")))
    arr = (c.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("distinct_k"),
        F.sort_array(F.collect_list(F.struct("k", "cnt"))).alias("kcs")))
    fold = F.aggregate(
        F.col("kcs"), F.lit(0.0),
        lambda acc, s: acc + s["cnt"].cast("double")
        * F.log2(s["cnt"].cast("double")))
    return arr.select(
        "event_type", F.col("n").alias("n_events"), "distinct_k",
        F.round(F.log2(F.col("n").cast("double"))
                - fold / F.col("n").cast("double"), 6).alias("entropy_bits"))

"""The remaining classic TPC-H query *shapes*, adapted to the driver's
reduced star schema (no partsupp, no commit/receipt dates, no phone) —
rounding out the join/subquery surface beyond `tpch.py`:

  Q2  correlated-min subquery (decorrelated: aggregate + join-back)
  Q7  bi-directional nation trade flows (two dim roles for one table)
  Q8  market share (conditional numerator over a grouped denominator)
  Q9  product profit (multi-dim join, decimal-exact profit arithmetic)
  Q11 revenue-share threshold (1-row broadcast scalar subquery)
  Q13 outer-join count distribution (double aggregation)
  Q15 max-equality join (ties kept, as in the spec)
  Q17 correlated-avg predicate (integer-exact: 5·qty·cnt < sum)
  Q19 disjunctive predicate blocks (pushdown/codegen showcase)
  Q21 sole-late-supplier (conditional distinct counts, not nested EXISTS)
  Q22 anti-join + global-average scalar subquery

All arithmetic is decimal-exact on both engines (doubles are summed
nowhere): money casts to DECIMAL(18,2) first, correlated thresholds are
cross-multiplied into integer/decimal comparisons instead of divided,
and count factors are cast to narrow decimals so products stay under
precision 38 (Spark would round above it, silently breaking exactness).

Scalar subqueries (Q11/Q15/Q22) join their 1-row aggregate back with a
broadcast nested-loop join — O(n) work, no shuffle, and unlike a
global window function it never funnels rows to a single partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..sources.tables import load_table
from .registry import register


def _dec(col: str) -> Column:
    return F.col(col).cast("decimal(18,2)")


def _rev() -> Column:
    """Exact line revenue: extendedprice * (1 - discount)."""
    return _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))


_REV_SQL = ("CAST(l_extendedprice AS DECIMAL(18,2))"
            " * (1 - CAST(l_discount AS DECIMAL(18,2)))")


def _nation_names(spark: SparkSession, sf_dir: str, key: str,
                  name: str) -> DataFrame:
    """The nation dim under role-specific column names (Q7/Q8/Q9 use the
    same table on both the customer and supplier side of one plan)."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(F.col("n_nationkey").alias(key),
                    F.col("n_name").alias(name))


@register(
    "cheapest_supplier_per_part",
    oracle="""
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
eur AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'),
pe AS (SELECT p.l_partkey, e.s_suppkey, e.s_name, e.s_acctbal, e.n_name
       FROM pairs p JOIN eur e ON e.s_suppkey = p.l_suppkey),
m AS (SELECT l_partkey, min(s_acctbal) AS min_bal FROM pe GROUP BY 1)
SELECT pe.s_acctbal, pe.s_name, pe.n_name,
       pe.l_partkey AS p_partkey, pe.s_suppkey
FROM pe JOIN m ON m.l_partkey = pe.l_partkey AND pe.s_acctbal = m.min_bal
ORDER BY s_acctbal DESC, p_partkey, s_suppkey LIMIT 20""",
    doc="Q2-shaped correlated-min subquery, decorrelated the way "
        "Catalyst/CBO engines do: per-part min over the (part, supplier)"
        " pairs, joined back on equality so ties survive. The supplier×"
        "nation×region side is dimension-sized and broadcast; only the "
        "distinct pair projection of lineitem shuffles. Min over "
        "unmodified doubles is arithmetic-free, hence engine-exact.",
)
def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OPTIMIZATION r11 (guide §2.4): hash-partitioning by l_partkey
    # alone satisfies the pair-distinct (subset of its keys), the
    # per-part min, AND the join-back — one exchange where the planner
    # inserted three. AQE-coalescable (no pinned count).
    pairs = (load_table(spark, sf_dir, "lineitem")
             .select("l_partkey", "l_suppkey")
             .repartition(F.col("l_partkey")).distinct())
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (s.join(F.broadcast(n.join(F.broadcast(r),
                                     n.n_regionkey == r.r_regionkey)),
                  s.s_nationkey == F.col("n_nationkey"))
           .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    pe = pairs.join(F.broadcast(eur), pairs.l_suppkey == eur.s_suppkey)
    m = (pe.groupBy(F.col("l_partkey").alias("mp_partkey"))
         .agg(F.min("s_acctbal").alias("min_bal")))
    return (
        # join on the partition key only and FILTER the min equality:
        # a (partkey, acctbal) equi-join would re-exchange both sides
        # (co-partitioning requires all cluster keys), while this join
        # rides the one repartition above — value-identical for an
        # inner join
        pe.join(m, pe.l_partkey == m.mp_partkey)
        .filter(pe.s_acctbal == m.min_bal)
        .select("s_acctbal", "s_name", "n_name",
                F.col("l_partkey").alias("p_partkey"), "s_suppkey")
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
        .limit(20)
    )


@register(
    "nation_trade_flows",
    oracle=f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       sum({_REV_SQL.replace('l_', 'l.l_')}) AS revenue
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3""",
    doc="Q7-shaped bi-directional trade flows: the nation dim plays two "
        "roles (customer side, supplier side) in one plan, renamed per "
        "role. One fact-fact shuffle (lineitem×orders); every dim is "
        "broadcast; the nation-pair filter prunes after the broadcasts "
        "so Catalyst pushes the two small IN-filters into the dim scans.",
)
def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cn = _nation_names(spark, sf_dir, "cn_key", "cust_nation")
    sn = _nation_names(spark, sf_dir, "sn_key", "supp_nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == cn.cn_key)
        .join(F.broadcast(sn), s.s_nationkey == sn.sn_key)
        .filter(((F.col("supp_nation") == "NATION_1")
                 & (F.col("cust_nation") == "NATION_2"))
                | ((F.col("supp_nation") == "NATION_2")
                   & (F.col("cust_nation") == "NATION_1")))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.sum(_rev()).alias("revenue"))
    )


@register(
    "market_share_by_year",
    oracle=f"""
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       sum(CASE WHEN sn.n_name = 'NATION_6'
                THEN {_REV_SQL.replace('l_', 'l.l_')}
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS target_volume,
       sum({_REV_SQL.replace('l_', 'l.l_')}) AS total_volume
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = cn.n_regionkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1""",
    doc="Q8-shaped market share: one target nation's revenue inside a "
        "region/type/date slice, per year. The ratio is numerator + "
        "denominator columns (exact decimals), never a divided double — "
        "the Q14 pattern. part is pre-filtered to one p_type before its "
        "broadcast, so the biggest dim ships reduced.",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cn = _nation_names(spark, sf_dir, "cn_key", "cust_nation")
    sn = _nation_names(spark, sf_dir, "sn_key", "supp_nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n_region = load_table(spark, sf_dir, "nation")
    cn_am = (cn.join(F.broadcast(
        n_region.join(F.broadcast(r),
                      n_region.n_regionkey == r.r_regionkey)
        .select("n_nationkey")), cn.cn_key == F.col("n_nationkey"))
        .select("cn_key", "cust_nation"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn_am), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == sn.sn_key)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(F.when(F.col("supp_nation") == "NATION_6", _rev())
                   .otherwise(F.lit(0).cast("decimal(18,2)")))
             .alias("target_volume"),
             F.sum(_rev()).alias("total_volume"))
    )


@register(
    "product_profit_by_nation_year",
    oracle="""
SELECT sn.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
           - CAST(p.p_retailprice AS DECIMAL(18,2))
             * CAST(l.l_quantity AS DECIMAL(18,2))) AS profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2""",
    doc="Q9-shaped product profit by supplier nation and year; the "
        "supply-cost term is p_retailprice*quantity (no partsupp table "
        "in this schema). Both products are DECIMAL(18,2)×DECIMAL(18,2)"
        " = (37,4) — exact, under Spark's precision-38 rounding cliff. "
        "The LIKE filter prunes part before its broadcast.",
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%"))
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    sn = _nation_names(spark, sf_dir, "sn_key", "nation")
    profit = _rev() - _dec("p_retailprice") * _dec("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == sn.sn_key)
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(profit).alias("profit"))
    )


@register(
    "supplier_revenue_share",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey, sum({_REV_SQL}) AS revenue
  FROM lineitem GROUP BY 1),
tot AS (SELECT sum(revenue) AS total FROM rev)
SELECT r.l_suppkey AS s_suppkey, s.s_name, r.revenue
FROM rev r JOIN tot t ON CAST(1000 AS DECIMAL(4,0))
                         * CAST(r.revenue AS DECIMAL(30,4)) > t.total
JOIN supplier s ON s.s_suppkey = r.l_suppkey
ORDER BY revenue DESC, s_suppkey""",
    doc="Q11-shaped share threshold: suppliers holding > 0.1% of total "
        "revenue. The global total is a 1-row aggregate joined back by "
        "broadcast nested loop (O(n), no single-partition window). The "
        "threshold is cross-multiplied (1000·rev > total) in decimals "
        "narrow enough to stay exact — never a divided double.",
)
def q_supplier_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("revenue")))
    tot = rev.agg(F.sum("revenue").alias("total"))
    scaled = (F.lit(1000).cast("decimal(4,0)")
              * F.col("revenue").cast("decimal(30,4)"))
    return (
        rev.join(F.broadcast(tot), scaled > F.col("total"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(F.col("l_suppkey").alias("s_suppkey"), "s_name", "revenue")
        .orderBy(F.col("revenue").desc(), "s_suppkey")
    )


@register(
    "customer_order_distribution",
    oracle="""
WITH counts AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1)
SELECT c_count, count(*) AS custdist
FROM counts GROUP BY 1
ORDER BY custdist DESC, c_count DESC""",
    doc="Q13-shaped double aggregation over a LEFT OUTER join: per-"
        "customer order counts (zero preserved by count(o_orderkey) "
        "over the null-extended rows), then the distribution of those "
        "counts. Pure integer counting — nothing to normalize. The "
        "second aggregate's input is customer-sized, already tiny.",
)
def q_customer_order_distribution(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    counts = (c.join(o, c.c_custkey == o.o_custkey, "left")
              .groupBy(c.c_custkey)
              .agg(F.count("o_orderkey").alias("c_count")))
    return (counts.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


@register(
    "top_revenue_supplier",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey, sum({_REV_SQL}) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY 1),
m AS (SELECT max(total_revenue) AS max_rev FROM rev)
SELECT r.l_suppkey AS s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN m ON r.total_revenue = m.max_rev
JOIN supplier s ON s.s_suppkey = r.l_suppkey
ORDER BY s_suppkey""",
    doc="Q15-shaped max-equality join: the quarter's top-revenue "
        "supplier(s), ties kept per the spec (equality against a 1-row "
        "max, broadcast back — not LIMIT 1, which would drop ties). "
        "Decimal revenue makes the equality well-defined across engines.",
)
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp")))
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("total_revenue"))
    m = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.join(F.broadcast(m), F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(F.col("l_suppkey").alias("s_suppkey"), "s_name",
                "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "small_order_part_revenue",
    oracle="""
WITH stats AS (
  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         count(*) AS cnt
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#5'
  GROUP BY 1)
SELECT sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS total_revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN stats st ON st.l_partkey = l.l_partkey
WHERE CAST(l.l_quantity AS DECIMAL(18,2))
      * CAST(5 AS DECIMAL(2,0)) * CAST(st.cnt AS DECIMAL(10,0))
      < st.sum_qty""",
    doc="Q17-shaped correlated-average predicate (lines below 20% of "
        "their part's mean quantity), decorrelated into per-part "
        "(sum, count) + join-back. The avg comparison is cross-"
        "multiplied — 5·qty·cnt < sum — all decimal-exact; a divided "
        "double would tie-break differently per engine. The per-part "
        "stats subtree is brand-filtered so the join-back is tiny.",
)
def q_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#5")
    brand_lines = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    stats = (brand_lines.groupBy(F.col("l_partkey").alias("st_partkey"))
             .agg(F.sum(_dec("l_quantity")).alias("sum_qty"),
                  F.count(F.lit(1)).alias("cnt")))
    cond = (_dec("l_quantity") * F.lit(5).cast("decimal(2,0)")
            * F.col("cnt").cast("decimal(10,0)")) < F.col("sum_qty")
    return (
        li.join(F.broadcast(stats), li.l_partkey == F.col("st_partkey"))
        .filter(cond)
        .agg(F.sum(_dec("l_extendedprice")).alias("total_revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


@register(
    "disjunctive_promo_revenue",
    oracle=f"""
SELECT sum({_REV_SQL.replace('l_', 'l.l_')}) AS revenue,
       count(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 11 AND 25
       AND l.l_quantity BETWEEN 10 AND 25)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 26 AND 50
       AND l.l_quantity BETWEEN 20 AND 35)""",
    doc="Q19-shaped disjunctive predicate blocks spanning both join "
        "sides. Catalyst extracts the common l_quantity/p_size bounds "
        "as pushable conjuncts (quantity 1-35 reaches PushedFilters) "
        "and evaluates the residual OR post-join in codegen; the part "
        "side broadcasts after its own brand/size reduction.",
)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    block = [
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10)
         & F.col("l_quantity").between(1, 15)),
        ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(11, 25)
         & F.col("l_quantity").between(10, 25)),
        ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(26, 50)
         & F.col("l_quantity").between(20, 35)),
    ]
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(block[0] | block[1] | block[2])
        .agg(F.sum(_rev()).alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


@register(
    "late_sole_supplier",
    oracle="""
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
  FROM lo GROUP BY 1),
culprits AS (
  SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
  FROM lo JOIN per_order po ON po.l_orderkey = lo.l_orderkey
  WHERE lo.late AND po.n_supp >= 2 AND po.n_late = 1)
SELECT s.s_suppkey, s.s_name, count(*) AS numwait
FROM culprits c JOIN supplier s ON s.s_suppkey = c.l_suppkey
GROUP BY 1, 2
ORDER BY numwait DESC, s_suppkey LIMIT 20""",
    doc="Q21-shaped sole-late-supplier: in multi-supplier orders, the "
        "one supplier that shipped > 90 days after the order date while "
        "every co-supplier shipped on time. The classic nested EXISTS/"
        "NOT-EXISTS pair collapses into ONE grouped pass: n_late = 1 "
        "means the order has exactly one distinct late supplier, so "
        "max(when(late, suppkey)) recovers the culprit inside the same "
        "aggregation — no join-back, no second scan of the "
        "lineitem-orders join (round 2 consumed that join twice, which "
        "doubled the dominant shuffle and made the query AQE-volatile).",
)
def q_late_sole_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    lo = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(li.l_orderkey, "l_suppkey",
                  (F.col("l_shipdate")
                   > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
                  .alias("late")))
    # Two PLAIN hash aggregations instead of a double countDistinct:
    # multiple distinct aggregates force an Expand (3x the rows through
    # the shuffle); collapsing to per-(order, supplier) lateness first
    # keeps both aggs partial-combinable. n_late == 1 ⇒ exactly one
    # late supplier ⇒ max(when(late, suppkey)) IS the culprit: recovery
    # rides the same aggregation, no join-back over a recomputed join.
    # OPTIMIZATION r11 (guide §2.4): hash-partitioning by l_orderkey
    # alone satisfies BOTH aggregations' clustering requirements (a
    # subset of (l_orderkey, l_suppkey) co-locates every group), so one
    # explicit repartition serves the per-supplier AND the per-order
    # pass — 2 exchanges of the joined rows -> 1. No partition count is
    # pinned: repartition-by-column stays AQE-coalescable.
    per_supp = (lo.repartition(F.col("l_orderkey"))
                .groupBy("l_orderkey", "l_suppkey")
                .agg(F.max("late").alias("late")))
    culprits = (
        per_supp.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_supp"),
             F.sum(F.col("late").cast("long")).alias("n_late"),
             F.max(F.when(F.col("late"), F.col("l_suppkey")))
              .alias("l_suppkey"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)))
    return (
        culprits.join(F.broadcast(s), culprits.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(20)
    )


@register(
    "idle_rich_customers",
    oracle="""
WITH pos AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS tot,
         count(*) AS cnt
  FROM customer WHERE c_acctbal > 0.0),
rich AS (
  SELECT c.c_custkey, c.c_nationkey, CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer c JOIN pos
    ON CAST(c.c_acctbal AS DECIMAL(18,2)) * CAST(pos.cnt AS DECIMAL(12,0))
       > pos.tot),
idle AS (
  SELECT r.* FROM rich r
  WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'))
SELECT n.n_name, count(*) AS numcust, sum(i.bal) AS totacctbal
FROM idle i JOIN nation n ON n.n_nationkey = i.c_nationkey
GROUP BY 1""",
    doc="Q22-shaped idle-rich-customers: above-average account balance "
        "(global average via a 1-row broadcast scalar subquery, "
        "compared cross-multiplied: bal·cnt > sum — exact) and no "
        "recent orders (LeftAnti against the date-filtered order keys; "
        "every synthetic customer has SOME order, so 'never ordered' "
        "would be vacuous). Grouped per nation; counts and an exact "
        "decimal balance sum out.",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = _nation_names(spark, sf_dir, "n_key", "n_name")
    pos = (c.filter(F.col("c_acctbal") > 0.0)
           .agg(F.sum(_dec("c_acctbal")).alias("tot"),
                F.count(F.lit(1)).alias("cnt")))
    rich = (c.join(F.broadcast(pos),
                   _dec("c_acctbal") * F.col("cnt").cast("decimal(12,0)")
                   > F.col("tot"))
            .select("c_custkey", "c_nationkey",
                    _dec("c_acctbal").alias("bal")))
    recent = o.filter(F.col("o_orderdate")
                      >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        idle.join(F.broadcast(n), idle.c_nationkey == n.n_key)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.sum("bal").alias("totacctbal"))
    )


# ---------------------------------------------------------------------------
# The final four classic shapes (Q4/Q12/Q16/Q20), same adaptation rules


@register(
    "late_order_priorities",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1""",
    doc="Q4-shaped order-priority checking: orders in a one-year window "
        "with at least one lineitem shipped > 60 days after the order "
        "date (the reduced schema has no commit/receipt dates, so "
        "lateness is ship-vs-order). The correlated EXISTS is a "
        "LeftSemi join carrying the non-equi date predicate; counting "
        "happens after the semi join so no order is double-counted.",
)
def q_late_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    window = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
    late = window.join(
        li, (li.l_orderkey == window.o_orderkey)
        & (li.l_shipdate > window.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "leftsemi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


@register(
    "returnflag_priority_mix",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY 1""",
    doc="Q12-shaped priority mix: lineitems shipped in one year, "
        "bucketed by return flag (standing in for ship mode, absent "
        "from the reduced schema), with conditional high/low-priority "
        "counts. One broadcast join + one combinable aggregation.",
)
def q_returnflag_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    year = li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp_ntz")))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        year.join(o.select("o_orderkey", "o_orderpriority"),
                  year.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"))
    )


@register(
    "part_supplier_variety",
    oracle="""
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#13'
  AND p.p_type <> 'MEDIUM'
  AND p.p_size IN (1, 2, 3, 4, 5)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_suppkey % 4 = 0)
GROUP BY 1, 2, 3""",
    doc="Q16-shaped supplier variety: distinct suppliers per (brand, "
        "type, size) over selected parts, excluding a deterministic "
        "'complaints' supplier set (suppkey % 4 — the reduced schema "
        "has no comment text). lineitem stands in for partsupp as the "
        "part-supplier relationship. Anti-join on the tiny excluded "
        "set, broadcast part dim, one distinct-count aggregation.",
)
def q_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    parts = p.filter((F.col("p_brand") != "Brand#13")
                     & (F.col("p_type") != "MEDIUM")
                     & F.col("p_size").isin(1, 2, 3, 4, 5))
    complaints = sup.filter(F.col("s_suppkey") % 4 == 0).select("s_suppkey")
    links = (li.select("l_partkey", "l_suppkey")
             .join(F.broadcast(complaints),
                   li.l_suppkey == F.col("s_suppkey"), "leftanti")
             .join(F.broadcast(parts), li.l_partkey == parts.p_partkey))
    return (links.groupBy("p_brand", "p_type",
                          F.col("p_size").cast("long").alias("p_size"))
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


BULK_QTY_THRESHOLD = 150


@register(
    "bulk_part_suppliers",
    oracle=f"""
WITH bulk AS (
  SELECT l_suppkey, l_partkey
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
  GROUP BY 1, 2
  HAVING sum(l_quantity) > {BULK_QTY_THRESHOLD})
SELECT s.s_suppkey, s.s_name, n.n_name,
       CAST(count(*) AS BIGINT) AS n_bulk_parts
FROM bulk b
JOIN supplier s ON s.s_suppkey = b.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY 1, 2, 3""",
    doc="Q20-shaped bulk suppliers: suppliers that shipped more than "
        f"{BULK_QTY_THRESHOLD} units of some single part in one year "
        "(lineitem quantity sums stand in for partsupp availqty), "
        "enriched with their nation. The HAVING subquery is one "
        "combinable aggregation; the join-back ships only qualifying "
        "(supplier, part) keys; dims broadcast.",
)
def q_bulk_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    year = li.filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp_ntz")))
    bulk = (year.groupBy("l_suppkey", "l_partkey")
            .agg(F.sum("l_quantity").alias("_q"))
            .filter(F.col("_q") > BULK_QTY_THRESHOLD))
    return (
        bulk.join(F.broadcast(sup), bulk.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_bulk_parts"))
    )


# ---------------------------------------------------------------------------
# Market-basket analysis (beyond-reference): frequent 2-itemsets over
# order baskets with support and lift — the association-rule building
# block (Agrawal/Srikant Apriori's k=2 level) every retail OLAP stack
# ships. Baskets are the distinct part brands per order; in-basket
# pairs come from sorted collect_set combinations (baskets are small —
# C(|basket|, 2) per order — so pair explosion is bounded by basket
# size, never by catalog size), and the two singleton-count joins
# broadcast the 25-row brand frequency table. Lift's integer inputs
# are cast to double before multiplying so the expression never
# overflows int64 at scale; both engines evaluate the identical
# double expression.

BASKET_MIN_PAIR_COUNT = 5      # min absolute pair support


@register(
    "orders_brand_basket_lift",
    oracle=f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
singles AS (
  SELECT p_brand, count(*) AS brand_orders FROM ob GROUP BY p_brand
),
tot AS (
  SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob
),
pc AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS pair_count
  FROM ob a
  JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
)
SELECT pc.brand_a, pc.brand_b,
       CAST(pc.pair_count AS BIGINT) AS pair_count,
       CAST(sa.brand_orders AS BIGINT) AS count_a,
       CAST(sb.brand_orders AS BIGINT) AS count_b,
       CAST(tot.n_orders AS BIGINT) AS n_orders,
       (CAST(pc.pair_count AS DOUBLE) * CAST(tot.n_orders AS DOUBLE))
         / (CAST(sa.brand_orders AS DOUBLE) * CAST(sb.brand_orders AS DOUBLE))
         AS lift
FROM pc
JOIN singles sa ON sa.p_brand = pc.brand_a
JOIN singles sb ON sb.p_brand = pc.brand_b
CROSS JOIN tot
WHERE pc.pair_count >= {BASKET_MIN_PAIR_COUNT}""",
    doc="Frequent 2-itemsets with lift over order brand-baskets "
        "(Apriori level 2). Baskets via collect_set per order, "
        "in-basket sorted pair combinations (work ∝ Σ basket², "
        "baskets are small), singleton counts and the 1-row order "
        "total join back as broadcasts. Lift computed in double "
        "from exact integer counts — overflow-safe at any scale.",
)
def q_orders_brand_basket_lift(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    # OPTIMIZATION r11 (guide §2.4): ONE orderkey-keyed aggregation
    # builds the per-order brand set (collect_set dedups in place, so
    # the old (l_orderkey, p_brand).distinct() exchange is gone), and
    # all three consumers — per-brand order counts, the distinct-order
    # total, and the pair generator — derive from it, sharing the
    # basket build's exchange; the countDistinct Expand disappears
    # from the executed plan. Values
    # are identical: explode(set) re-creates exactly the distinct
    # (order, brand) rows.
    baskets = (li.select("l_orderkey", "l_partkey")
               .join(F.broadcast(pt.select("p_partkey", "p_brand")),
                     F.col("l_partkey") == F.col("p_partkey"))
               .groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("p_brand")).alias("bs")))
    singles = (baskets.select(F.explode("bs").alias("p_brand"))
               .groupBy("p_brand")
               .agg(F.count(F.lit(1)).alias("brand_orders")))
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    pairs = (
        baskets
        .select(F.explode(F.expr(
            "flatten(transform(bs, (x, i) -> "
            "transform(slice(bs, i + 2, size(bs) - i - 1), "
            "y -> struct(x AS brand_a, y AS brand_b))))")).alias("p"))
        .select("p.brand_a", "p.brand_b"))
    pc = pairs.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).alias("pair_count"))
    sa = singles.select(F.col("p_brand").alias("brand_a"),
                        F.col("brand_orders").alias("count_a"))
    sb = singles.select(F.col("p_brand").alias("brand_b"),
                        F.col("brand_orders").alias("count_b"))
    lift = ((F.col("pair_count").cast("double")
             * F.col("n_orders").cast("double"))
            / (F.col("count_a").cast("double")
               * F.col("count_b").cast("double")))
    return (pc.filter(F.col("pair_count") >= BASKET_MIN_PAIR_COUNT)
            .join(F.broadcast(sa), "brand_a")
            .join(F.broadcast(sb), "brand_b")
            .crossJoin(F.broadcast(tot))
            .select("brand_a", "brand_b",
                    F.col("pair_count").cast("long").alias("pair_count"),
                    F.col("count_a").cast("long").alias("count_a"),
                    F.col("count_b").cast("long").alias("count_b"),
                    F.col("n_orders").cast("long").alias("n_orders"),
                    lift.alias("lift")))


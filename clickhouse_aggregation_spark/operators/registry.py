"""Declared-query registry: the single source of truth behind
``__spark_entry__.queries()`` / ``oracle_sql()`` and the test suite.

Every operator from SURVEY.md §2 that is implemented gets a
``QuerySpec`` here: a Spark callable ``(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) the equivalent DuckDB SQL the driver runs
as the correctness oracle. Column names are aliased identically on both
sides — the driver's compare sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..caches import FAMILY_EVICT_HOOKS, PlanCache
from .contract import finalize, wrap_oracle
from .contracts import CONTRACTS

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery              # finalized: output passed through the contract
    oracle: str | None          # full DuckDB SQL (contract-wrapped), or None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())
    raw_fn: SparkQuery = None   # pre-contract callable (for plan inspection)
    raw_oracle: str | None = None
    memo_plan: bool = False     # in PREPARED_PLANS (see _PLAN_MEMO); recorded
                                # so the zero-jobs construction gate in
                                # tests/test_plans.py can enumerate opt-ins


REGISTRY: dict[str, QuerySpec] = {}

# The driver's correctness gate checks (at most) the first 50 declared
# queries, so the declared surface is EXACTLY 50 and ordering is part
# of the contract. EXTRAS stay registered, oracle-paired and covered by
# the registry-parametrized tests, and are exported via
# ``__spark_entry__.extra_queries()``; each is a variant whose operator
# coverage the declared 50 already provide. Callers outside the tests:
# perfbench's ad-hoc workload runs mv_usdc_daily_block, mv_top_senders,
# mv_top_addresses, tpch_q3_shipping_priority and
# tpch_q5_local_supplier_volume; similarity_ivf_nprobe_sweep calls
# similarity_topk_bruteforce; bench.py times most of the rest.
EXTRAS: tuple[str, ...] = (
    "orders_priority_by_month",
    "top_customers_per_nation",
    "sql_adhoc_daily_volume",
    "mv_usdc_hourly_ts",
    "mv_usdc_hourly_block_approx",   # rows-only by design (A3 estimate)
    "mv_usdc_daily_ts",
    "readme_size_distribution",
    "monitoring_recent_sample",
    "entity_filter_paginated",
    "pipeline_domain_mix",
    "mv_top_senders",
    "mv_top_receivers",
    "readme_top_senders",
    "mv_usdc_hourly_block",
    "dedup_exact",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "text_quality_score",
    "text_fingerprint",
    "similarity_topk_bruteforce",
    "similarity_ivf_recall",
    "multimodal_payload_stats",
    "events_cooccurrence_5min",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "mv_usdc_daily_block",
    "mv_tx_size_distribution",
    "mv_recent_activity",
    "mv_top_addresses",
    "events_json_daily",
    "tpch_q1_pricing_summary",
    "similarity_lsh_bucketed",
    "similarity_ivf_topk",
    "similarity_pq_rerank",
    "embedding_label_centroids",
    "dedup_minhash_survivors",
    "dedup_clusters",
    "text_language_id",
    "text_token_count",
    "text_tfidf_topk",
    "events_hourly_window",
    "events_value_quantiles",
    "pipeline_clean_corpus",
    "pipeline_split_assign",
    "pipeline_curate_topn",
    "streaming_neardup_epochs",
    "streaming_contamination_epochs",
    "cheapest_supplier_per_part",
    "nation_trade_flows",
    "market_share_by_year",
    "product_profit_by_nation_year",
    "supplier_revenue_share",
    "customer_order_distribution",
    "top_revenue_supplier",
    "small_order_part_revenue",
    "disjunctive_promo_revenue",
    "late_sole_supplier",
    "idle_rich_customers",
    "dedup_embedding_lsh",
    "events_k_entropy",
    "events_props_json_stats",
    "events_running_user_stats",
    "events_type_pivot",
    "events_value_k_regression",
    "events_value_outliers",
    "address_flow_setops",
    "returnflag_priority_mix",
    "orders_brand_basket_lift",
    "dedup_containment",
    "dedup_simhash_hamming",
    "dedup_source_overlap",
    "similarity_ivfpq_residual",
    "similarity_lsh_multiprobe",
    "text_heavy_hitters",
    "text_novel_trigram_rate",
    "text_repetition_stats",
    "text_weighted_length_quantiles",
    "pipeline_blocklist_scrub",
    "pipeline_bottomk_sample",
    "pipeline_epoch_shuffle",
    "transfers_pagerank3",
    "uniq_hll_merge_rollup",
    "streaming_ivf_search_epochs",
    "streaming_quantile_sketch_epochs",
    "bulk_part_suppliers",
    "pipeline_length_buckets",
    "multimodal_resize",
    "pipeline_bottomk_per_source",
    "streaming_embedding_dims_epochs",
    "part_supplier_variety",
    "contamination_neardup",
    "multimodal_frame_sample",
    "streaming_corpus_tokens_epochs",
    "embedding_dim_stats",
    "dedup_semantic",
    "similarity_lsh_recall",
    "dedup_embedding_lsh_recall",
    "dedup_neardup_floor_route_t48",
)


def declared_order() -> list[str]:
    """Declared registry names: oracle-paired first, rows-only last,
    EXTRAS excluded (they are exported separately)."""
    paired = [n for n, s in REGISTRY.items()
              if s.oracle is not None and n not in EXTRAS]
    rows_only = [n for n, s in REGISTRY.items()
                 if s.oracle is None and n not in EXTRAS]
    return paired + rows_only


def extras_order() -> list[str]:
    """The non-declared (extra) registry entries, registration order."""
    return [n for n in EXTRAS if n in REGISTRY]


# Prepared-plan memo (driver work): for a query whose fn is PURE LAZY
# CONSTRUCTION (no job, no checkpoint, no count/collect, no store
# driving — only DataFrame composition over the session-immutable table
# plans), the returned DataFrame is a pure function of (session,
# sf_dir), so rebuilding its expression tree through py4j on every call
# is repeated driver-side work for an identical object (0.03-0.10 s per
# query; rebuilding per call made a 10-query pass over perfbench's
# adhoc_scan fixture 12.5 % slower). Listing such a query in
# PREPARED_PLANS opts it into a per-(session, sf_dir) plan memo.
# STRICTLY construction-only reuse:
# nothing is materialized at build time, and every action on the memoed
# frame re-executes the full computation from parquet (Catalyst
# re-optimizes per action; only the Python-side tree build is skipped).
# Queries that do eager driver work inside fn (iterative loops, route
# decisions, epoch driving) MUST NOT be listed — for them a memo would
# skip recomputation, which is result caching, not preparation.
_PLAN_MEMO: dict[tuple[str, str, str], DataFrame] = PlanCache(
    capacity=512, on_evict=lambda _v: None, notify_family_evict=False)


def _retire_plans_for_family_evict(family_key) -> None:
    """ADVICE r11: a memoized plan may reference a persisted family
    frame (shingle sets, pair tables, IVF corpus, ...). When a family
    cache evicts an entry, retire this sf_dir's memo entries so the
    next fn call re-prepares against the family's CURRENT frame
    instead of silently recomputing an unpersisted one. Family keys
    end in sf_dir by convention (caches.clear_plan_caches matches
    key[-1]); re-preparing a plan costs ~0.1 s of driver work, and
    capacity evictions are rare (bounded dataset churn)."""
    sf_dir = family_key[-1]
    for k in [k for k in _PLAN_MEMO if k[-1] == sf_dir]:
        _PLAN_MEMO.pop(k, None)


FAMILY_EVICT_HOOKS.append(_retire_plans_for_family_evict)


# Prepared-plan opt-in: the one list of queries whose fn is pure lazy
# construction. Membership is measured, not read off the code:
# tests/test_plans.py's zero-jobs gate constructs every member's
# finalized frame with warm session indexes and fails if it schedules
# a Spark job.
#
# Deliberately NOT members (eager at construction by contract):
#   - the 12 streaming facades (store driving inside fn),
#   - similarity_ivf_kmeans_refine, dedup_clusters (iterative loops
#     that run jobs inside fn),
#   - the near-dup route/ledger family (dedup_neardup_floor_route,
#     _t48, dedup_ivf_route_recall, dedup_floor_route_domain_check —
#     eager route decisions are the product; plus ladder_profile and
#     dedup_minhash_recall, zero-job warm but kept un-memoized with
#     their family so every call re-makes the route/ledger decision).
PREPARED_PLANS = frozenset({
    "abi_decode_transfers", "address_flow_setops", "approx_uniq_tolerance",
    "asof_signup_attribution", "bulk_part_suppliers",
    "cheapest_supplier_per_part", "contamination_neardup",
    "contamination_ngram_overlap",
    "customer_order_distribution", "dedup_block_exact", "dedup_containment",
    "dedup_embedding_cosine", "dedup_embedding_lsh",
    "dedup_embedding_lsh_banded", "dedup_embedding_lsh_recall",
    "dedup_embedding_survivors", "dedup_exact", "dedup_latest_version",
    "dedup_minhash_lsh", "dedup_minhash_survivors", "dedup_ngram_jaccard",
    "dedup_semantic", "dedup_simhash", "dedup_simhash_hamming",
    "dedup_source_overlap", "disjunctive_promo_revenue", "embedding_dim_stats",
    "embedding_gram_matrix", "embedding_label_centroids", "entity_by_id",
    "events_json_daily", "events_k_entropy", "events_props_json_stats",
    "events_running_user_stats", "events_sessionization",
    "events_type_pivot", "events_value_k_regression", "events_value_outliers",
    "events_value_quantiles", "idle_rich_customers", "late_order_priorities",
    "late_sole_supplier", "market_share_by_year", "monitoring_global_stats",
    "multimodal_decode_audit", "multimodal_decode_stats",
    "multimodal_feature_extract", "multimodal_frame_sample",
    "multimodal_resize", "mv_daily_with_fill", "mv_recent_activity",
    "mv_top_addresses", "mv_tx_size_distribution", "mv_usdc_daily_block",
    "mv_usdc_hourly_block", "mv_usdc_hourly_block_approx",
    "mv_volume_rollup_subtotals", "nation_trade_flows",
    "orders_brand_basket_lift", "part_supplier_variety",
    "pipeline_blocklist_scrub", "pipeline_bottomk_per_source",
    "pipeline_bottomk_sample", "pipeline_clean_corpus", "pipeline_curate_topn",
    "pipeline_domain_mix", "pipeline_dsir_sample", "pipeline_end_to_end",
    "pipeline_epoch_shuffle", "pipeline_length_buckets",
    "pipeline_pack_invariants", "pipeline_pack_sequences",
    "pipeline_split_assign", "pipeline_temperature_mix",
    "product_profit_by_nation_year", "readme_daily_volume_7d",
    "readme_top_senders", "retraction_net_daily", "returnflag_priority_mix",
    "similarity_ivf_nprobe_sweep", "similarity_ivf_topk",
    "similarity_ivfpq_residual", "similarity_lsh_bucketed",
    "similarity_lsh_multiprobe", "similarity_lsh_recall",
    "similarity_pq_rerank", "similarity_topk_bruteforce",
    "small_order_part_revenue", "sql_adhoc_whale_report",
    "supplier_revenue_share", "text_bm25_topk", "text_bpe_encode_corpus",
    "text_bpe_pair_counts", "text_bpe_train_merges", "text_heavy_hitters",
    "text_language_id", "text_novel_trigram_rate",
    "text_quality_robust_calibration", "text_repetition_stats",
    "text_tfidf_topk", "text_token_count", "text_unigram_logppl",
    "text_vocab_coverage", "text_vocab_topk", "text_weighted_length_quantiles",
    "tiered_union_stats", "top_customers_per_nation", "top_revenue_supplier",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "transfers_pagerank3",
    "uniq_hll_merge_rollup",
})


def register(name: str, oracle: str | None = None, doc: str = "",
             tags: tuple[str, ...] = ()) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: add a declared query to the registry.

    The stored ``fn``/``oracle`` are wrapped with the output contract
    (contract.py): identical final-projection casts on the Spark side
    (schema-driven, at call time) and the oracle side (from the
    generated ``contracts.py``), so both engines hand the driver
    byte-comparable pandas frames.
    """
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        memo = name in PREPARED_PLANS
        if memo:
            def finalized(spark: SparkSession, sf_dir: str,
                          _fn: SparkQuery = fn) -> DataFrame:
                key = (name, spark.sparkContext.applicationId, sf_dir)
                cached = _PLAN_MEMO.get(key)
                if cached is None:
                    cached = _PLAN_MEMO[key] = finalize(_fn(spark, sf_dir))
                return cached
        else:
            def finalized(spark: SparkSession, sf_dir: str,
                          _fn: SparkQuery = fn) -> DataFrame:
                return finalize(_fn(spark, sf_dir))

        wrapped = wrap_oracle(oracle, CONTRACTS.get(name, {})) \
            if oracle is not None else None
        REGISTRY[name] = QuerySpec(name, finalized, wrapped, doc, tags,
                                   raw_fn=fn, raw_oracle=oracle,
                                   memo_plan=memo)
        return fn
    return deco

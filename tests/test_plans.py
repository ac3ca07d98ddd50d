"""Physical-plan quality gates (the 100 TB posture, checked at any
scale): filters must reach the parquet scan, projections must prune
columns, dimension joins must broadcast, and the hot path must stay in
whole-stage codegen."""

from __future__ import annotations

import pytest

from clickhouse_aggregation_spark.operators import REGISTRY


def _plan(spark, sf_dir, name: str, execute: bool = False) -> str:
    # build a FRESH finalized frame (raw_fn + finalize) instead of
    # going through spec.fn: memo_plan queries return one shared
    # DataFrame per session, and once ANY earlier test has executed it,
    # its queryExecution explains as the AQE-finalized plan — all
    # (Broadcast)QueryStage references whose subtrees these textual
    # gates can no longer see. A fresh frame always yields the full
    # initial physical plan the gates were written against.
    from clickhouse_aggregation_spark.operators.contract import finalize
    df = finalize(REGISTRY[name].raw_fn(spark, sf_dir))
    if execute:   # AQE finalizes (and annotates codegen) only after run
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_prepared_plans_name_registered_queries():
    """A misspelt or renamed PREPARED_PLANS entry would silently lose its
    plan memo."""
    from clickhouse_aggregation_spark.operators.registry import PREPARED_PLANS
    assert PREPARED_PLANS <= set(REGISTRY), \
        sorted(PREPARED_PLANS - set(REGISTRY))


def test_q1_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 6 needed columns — no l_orderkey etc.
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_q3_broadcasts_dimension_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_all_dims_broadcast_one_shuffle_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q5_local_supplier_volume")
    # exactly one non-broadcast (fact-fact) join: orders x lineitem
    n_bhj = plan.count("BroadcastHashJoin")
    n_smj = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert n_bhj >= 3
    assert n_smj <= 1


def test_rollups_scan_only_needed_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "mv_usdc_daily_block")
    # transfers derive from events: the rollup needs event_id/user_id/ts
    # but never props/event_type — pruning must reach the events scan
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "props" not in read_schema
    assert "event_type" not in read_schema


def test_hot_path_is_whole_stage_codegen(spark, sf_dir):
    for name in ("mv_usdc_daily_block", "tpch_q1_pricing_summary",
                 "text_token_count"):
        plan = _plan(spark, sf_dir, name, execute=True)
        # '*(n)' prefixes = whole-stage-codegen'd operators
        assert "*(1)" in plan, name


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "readme_top_senders")
    assert "TakeOrderedAndProject" in plan  # true top-k, no global sort


def test_split_assign_single_shuffle_no_join(spark, sf_dir):
    """The hash-gate rollups are one linear pass: a single exchange
    (the final tiny groupBy), never a join."""
    for name in ("pipeline_split_assign", "pipeline_domain_mix"):
        plan = _plan(spark, sf_dir, name)
        assert "Join" not in plan, name
        assert plan.count("Exchange") <= 2, name   # partial+final agg


def test_contamination_equi_join_no_nested_loop(spark, sf_dir):
    """Candidate generation must be an equi-join on the shingle hash —
    a nested-loop/cartesian plan would be the quadratic anti-pattern."""
    plan = _plan(spark, sf_dir, "contamination_ngram_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the persisted shingle index is reused, not recomputed per branch
    assert "InMemoryTableScan" in plan


def test_pq_broadcasts_codebooks_not_corpus(spark, sf_dir):
    """PQ's joins ship the tiny side (codebooks / ADC tables / query
    vectors); the corpus subtree must never sit under a broadcast."""
    plan = _plan(spark, sf_dir, "similarity_pq_rerank")
    assert "BroadcastHashJoin" in plan
    for bcast in plan.split("BroadcastExchange")[1:]:
        # each broadcast subtree must be rooted on a vec_id filter
        head = bcast[:2000]
        assert ("vec_id" in head), "broadcast side lost its filter"


def test_disjunctive_or_blocks_reach_the_scan(spark, sf_dir):
    """Q19-shape: the OR of per-block quantity bounds must be pushed
    into the lineitem scan (Catalyst extracts the per-side disjuncts),
    and the part side must broadcast — never a nested loop."""
    plan = _plan(spark, sf_dir, "disjunctive_promo_revenue")
    assert "Or(" in plan.split("PushedFilters")[1][:400]
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scalar_subqueries_are_one_row_broadcasts(spark, sf_dir):
    """Q11/Q15/Q22-shape: a global threshold joins back as exactly one
    broadcast nested-loop with a 1-row build — never a cartesian
    product, and never a single-partition global window."""
    for name in ("supplier_revenue_share", "top_revenue_supplier",
                 "idle_rich_customers"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("CartesianProduct") == 0, name
        assert plan.count("BroadcastNestedLoopJoin") <= 1, name
        assert "Window" not in plan, name


def test_late_sole_supplier_all_equi_joins(spark, sf_dir):
    """Q21-shape: the EXISTS/NOT-EXISTS pair is folded into grouped
    conditional-distinct counts — every join stays an equi hash/merge
    join and the supplier dim broadcasts."""
    plan = _plan(spark, sf_dir, "late_sole_supplier")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_idle_rich_anti_join_prunes_orders(spark, sf_dir):
    """Q22-shape: the recency filter must reach the orders scan of the
    anti-join side (the 100 TB posture: the anti build is the filtered
    slice, not the whole orders table)."""
    plan = _plan(spark, sf_dir, "idle_rich_customers")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate,2000-01-01" in plan


def test_ivf_assignment_aggregates_not_windows(spark, sf_dir):
    """Round-3 plan change: nearest-centroid selection must be a
    map-side-combinable aggregation (partial agg BEFORE the exchange
    collapses the 16x centroid expansion inside each map task), never a
    row_number window over the expanded frame."""
    from clickhouse_aggregation_spark.operators.similarity import (
        _IVF_CORPUS_CACHE, _ivf_parts, build_ivf_corpus)
    # gate the UNCACHED builder. Dropping the session cache first is
    # load-bearing: Spark's cache manager substitutes any sameResult
    # logical plan with the persisted InMemoryRelation, so once another
    # test materialized the index this fresh build would otherwise plan
    # as a cache scan and hide the min_by subtree (observed
    # order-dependent failure in the full-suite run).
    stale = _IVF_CORPUS_CACHE.pop(
        (spark.sparkContext.applicationId, sf_dir), None)
    if stale is not None:
        stale.unpersist()
    # corpus plan must be rendered BEFORE _ivf_parts below re-registers
    # the persisted plan with the cache manager
    corpus = build_ivf_corpus(spark, sf_dir)
    plan = corpus._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "min_by" in plan or "Aggregate" in plan
    _, probes = _ivf_parts(spark, sf_dir)
    probes_plan = probes._jdf.queryExecution().executedPlan().toString()
    for p in (plan, probes_plan):
        # one shuffle (the agg's partial->final hop); broadcasts of the
        # 16-centroid table don't count
        assert p.count("Exchange hashpartitioning") <= 1, p


def test_pq_encoding_aggregates_not_windows(spark, sf_dir):
    """Same gate for the PQ corpus encoding: the final plan may window
    only for the per-query candidate/output ranks (partitioned by
    query_id), not for the (vec_id, m) codeword assignment."""
    plan = _plan(spark, sf_dir, "similarity_pq_rerank")
    for line in plan.splitlines():
        if "row_number" in line:
            assert "query_id" in line, line


def test_minhash_pairs_cached_across_consumers(spark, sf_dir):
    """The confirmed-pairs frame is session-persisted: survivors /
    clean-corpus / clusters must reuse the same DataFrame object
    instead of re-executing the LSH pipeline."""
    from clickhouse_aggregation_spark.operators.dedup import (
        confirmed_minhash_pairs, q_dedup_minhash_lsh)
    a = q_dedup_minhash_lsh(spark, sf_dir)
    b = confirmed_minhash_pairs(spark, sf_dir)
    assert a is b
    assert a.storageLevel.useMemory or a.storageLevel.useDisk


def test_rollup_subtotals_single_scan_one_shuffle(spark, sf_dir):
    """GROUPING SETS must expand inside ONE aggregation pair: one
    Expand node feeding one partial+final hash-aggregate shuffle — not
    a self-union of per-grouping-set scans. (The transfers derivation
    itself contains the _sign=-1 retraction union; that is upstream of
    the Expand and not what this gate is about.)"""
    plan = _plan(spark, sf_dir, "mv_volume_rollup_subtotals")
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_embedding_lsh_is_equi_join(spark, sf_dir):
    """The embedding near-dup scale path must join on the bucket key
    (hash-partitionable), never via nested-loop over all pairs."""
    plan = _plan(spark, sf_dir, "dedup_embedding_lsh")
    assert "BroadcastNestedLoopJoin" not in plan \
        or "vec_id" in plan.split("BroadcastNestedLoopJoin")[1][:200]
    assert "bucket" in plan


def test_multiprobe_join_keyed_on_bucket(spark, sf_dir):
    """Multi-probe LSH must stay an equi-join on the bucket key; the
    9x probe explosion may only multiply the broadcast query side."""
    plan = _plan(spark, sf_dir, "similarity_lsh_multiprobe")
    assert "BroadcastHashJoin [bucket" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitters_no_cartesian_one_exact_pass(spark, sf_dir):
    """The MG candidate join must stay an equi-join on token and the
    1-row total may join only as a broadcast."""
    plan = _plan(spark, sf_dir, "text_heavy_hitters")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row total
    assert "mapInPandas" in plan or "MapInPandas" in plan


def test_with_fill_spine_broadcasts(spark, sf_dir):
    """The WITH FILL date spine must broadcast into the left join —
    never shuffle the rollup against a generated series."""
    plan = _plan(spark, sf_dir, "mv_daily_with_fill")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bottomk_sample_is_take_ordered(spark, sf_dir):
    """Bottom-k-by-hash sampling must plan as TakeOrderedAndProject
    (per-task k-heaps merged on the driver), never a global sort."""
    plan = _plan(spark, sf_dir, "pipeline_bottomk_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_repetition_stats_two_combinable_aggregates(spark, sf_dir):
    """(doc, token) count then per-doc collapse then per-lang rollup:
    partial aggregation everywhere, no join anywhere."""
    plan = _plan(spark, sf_dir, "text_repetition_stats")
    assert "Join" not in plan
    assert "partial" in plan.lower()


def test_sequence_match_prefilters_before_user_shuffle(spark, sf_dir):
    """Only qualified (props.k < 10) events may reach the per-user
    fold: the JSON filter must sit below the aggregate, and the fold
    itself is a higher-order expression — no Python UDF."""
    plan = _plan(spark, sf_dir, "events_sequence_match")
    assert "get_json_object" in plan
    assert "aggregate(" in plan          # the HOF fold, JVM-side
    assert "BatchEvalPython" not in plan
    assert "mapInPandas" not in plan and "MapInPandas" not in plan


def test_value_outliers_broadcasts_stats(spark, sf_dir):
    """The 5-row per-type stats frame joins back over the scan as a
    broadcast — shuffling the events by type (5 keys!) would be a
    skew trap at scale."""
    plan = _plan(spark, sf_dir, "events_value_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_ivfpq_residual_broadcasts_index_sides(spark, sf_dir):
    """IVF-PQ residual: centroids, codebooks and the query-side ADC
    table must all broadcast; nearest-code selection must be min_by
    aggregation (no row_number window over the corpus expansion); the
    only windows left are the per-query candidate/final ranks."""
    plan = _plan(spark, sf_dir, "similarity_ivfpq_residual")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    # nearest-code min_by inline, or the session-persisted cell
    # assignment (cache scan) feeding it
    assert "min_by" in plan or "InMemoryTableScan" in plan


def test_blocklist_scrub_single_pass_no_join(spark, sf_dir):
    """Redaction + ratio gate + checksum are row-local expressions:
    one linear scan, the only exchange pair is the per-source rollup,
    and the regex work stays inside whole-stage codegen."""
    plan = _plan(spark, sf_dir, "pipeline_blocklist_scrub")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2          # partial + final agg
    assert "BatchEvalPython" not in plan        # no Python in the path


def test_epoch_shuffle_partitions_by_shard_no_global_sort(spark, sf_dir):
    """The epoch permutation ranks within hash shards: the exchange is
    hashpartitioning on the shard key, and every Sort is per-partition
    (global=false) — a global sort would serialize the corpus."""
    plan = _plan(spark, sf_dir, "pipeline_epoch_shuffle")
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan      # = no global sort
    assert "Join" not in plan


def test_props_json_stats_no_python_no_join(spark, sf_dir):
    """get_json_object must stay a JVM expression fused into the scan
    stage — a Python UDF here would put every row through Arrow."""
    plan = _plan(spark, sf_dir, "events_props_json_stats")
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan


def test_containment_candidates_no_cartesian_reuse_index(spark, sf_dir):
    """Containment candidates come from the df-capped inverted index
    (groupBy + in-bucket combinations), never a postings self-join or
    cartesian; verification reuses the persisted shingle index."""
    plan = _plan(spark, sf_dir, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan          # persisted shingle sets


def test_hll_merge_rollup_one_row_broadcast_join(spark, sf_dir):
    """The exact-total frame is one row: it must join the merged-
    sketch row as a broadcast (1x1), never shuffle, and the sketch
    merge itself is a two-phase aggregate over the daily partials."""
    plan = _plan(spark, sf_dir, "uniq_hll_merge_rollup")
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BroadcastNestedLoopJoin") <= 1   # the 1x1 join
    assert "hll_union_agg" in plan or "hll_sketch" in plan.lower()


def test_novel_trigram_rate_equi_joins_only(spark, sf_dir):
    """df-index and rare-postings joins must be equi hash/merge joins
    on the trigram / doc_id keys — no cartesian, no Python."""
    plan = _plan(spark, sf_dir, "text_novel_trigram_rate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_simhash_hamming_bucket_join_no_cartesian(spark, sf_dir):
    """Hamming-neighbor candidates come from in-bucket combinations
    over (block, value) keys — one fingerprint aggregate, no posts
    self-join recomputing it, no cartesian verify."""
    plan = _plan(spark, sf_dir, "dedup_simhash_hamming")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the 60-bit fingerprint groupBy appears once, not once per side
    assert plan.count("partial_sum") <= 70


def test_basket_lift_broadcasts_dims_and_counts(spark, sf_dir):
    """Brand dim, singleton counts (25 rows) and the 1-row total must
    all broadcast; pair generation is in-basket combinations, so the
    only wide shuffles are the basket groupBy and the pair rollup."""
    plan = _plan(spark, sf_dir, "orders_brand_basket_lift")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1   # the 1x1 total
    assert plan.count("BroadcastHashJoin") >= 3         # part dim + 2 counts


def test_source_overlap_reuses_cached_pairs(spark, sf_dir):
    """The overlap matrix must consume the persisted confirmed-pairs
    set (InMemoryTableScan), not re-run the LSH pipeline."""
    plan = _plan(spark, sf_dir, "dedup_source_overlap")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_regression_moments_single_combinable_aggregate(spark, sf_dir):
    """corr/OLS moments must be ONE map-side-combinable aggregate over
    a linear scan — no join, no window, no Python."""
    plan = _plan(spark, sf_dir, "events_value_k_regression")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 2


def test_entropy_fold_no_python_no_join(spark, sf_dir):
    """The entropy fold is a JVM higher-order aggregate over the
    sorted per-type array — no Python, no join; two combinable
    aggregates (per-key counts, then per-type arrays)."""
    plan = _plan(spark, sf_dir, "events_k_entropy")
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan


def test_pagerank_iterations_equi_join_broadcast_stats(spark, sf_dir):
    """Each PageRank iteration must be an equi-join of edges with the
    rank frame plus a combinable sum; the 1-row graph-size frame joins
    back as broadcasts (one per unrolled iteration), never a shuffled
    cartesian; no Python anywhere."""
    plan = _plan(spark, sf_dir, "transfers_pagerank3")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_audience_overlap_two_aggregates_no_join(spark, sf_dir):
    """Bitmap set algebra must stay two combinable aggregates over
    per-user flags — no set materialization, no join, no Python."""
    plan = _plan(spark, sf_dir, "events_audience_overlap")
    assert "Join" not in plan
    assert "collect_set" not in plan
    assert "BatchEvalPython" not in plan


def test_rfm_anchor_broadcasts(spark, sf_dir):
    """The global anchor date is one row: it must broadcast back over
    the per-customer aggregate, never shuffle or go cartesian."""
    plan = _plan(spark, sf_dir, "orders_rfm_segments")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1   # the 1-row join
    assert "Window" not in plan


def test_sequence_count_one_user_shuffle_no_join_chain(spark, sf_dir):
    """The automaton folds JVM-side over one user-keyed collect — no
    per-step join chain, no Python; the only joins are the users
    left-join of rollup-sized frames."""
    plan = _plan(spark, sf_dir, "events_sequence_count")
    assert "BatchEvalPython" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        + plan.count("BroadcastHashJoin") <= 1


def test_unigram_logppl_fold_is_aggregate_not_window(spark, sf_dir):
    """The per-doc fold must be a combinable hash aggregate over the
    (doc, token) rows — never a window over the token explosion — and
    the tf-cnt join must be an equi-join on the token key."""
    plan = _plan(spark, sf_dir, "text_unigram_logppl")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # the 1-row totals anchor is the only nested-loop join allowed
    if "BroadcastNestedLoopJoin" in plan:
        assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_embedding_survivors_is_anti_join(spark, sf_dir):
    """The removal stage must be one anti-join over the pair set (never
    a per-row membership scan), with the pair generation an equi-join
    on the banded (band, key) pair."""
    plan = _plan(spark, sf_dir, "dedup_embedding_survivors")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # pair generation: either the banded (band, key) equi-join subtree
    # inline, or the session-persisted pair table (cache hit)
    assert "bkey" in plan or "InMemoryTableScan" in plan


def test_contamination_neardup_reuses_cached_pairs(spark, sf_dir):
    """Fuzzy decontamination must read the session-persisted confirmed-
    pairs table (InMemoryTableScan) — never re-run the LSH pipeline —
    and add only a filter + projection on top."""
    plan = _plan(spark, sf_dir, "contamination_neardup")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_embedding_lsh_banded_is_equi_join(spark, sf_dir):
    """The banded variant must stay an equi-join on (band, key) — the
    posexplode multiplies rows by the band count only, never by the
    corpus — with one distinct to collapse cross-band duplicates."""
    # build the pair plan directly (the registry query serves the
    # session-persisted pair table, whose plan collapses to an
    # InMemoryTableScan after first materialization)
    from clickhouse_aggregation_spark.operators.dedup import (
        embedding_lsh_banded_pairs)
    from clickhouse_aggregation_spark.sources.tables import load_table
    df = embedding_lsh_banded_pairs(load_table(spark, sf_dir, "embeddings"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "bkey" in plan
    assert "band" in plan


def test_banded_join_width_survives_aqe(spark, sf_dir):
    """Measured failure mode (NOTES_r4): the banded posts shuffle is
    tiny, so AQE coalesced the self-join to ONE partition while the
    join output exploded to ~0.2·n² verify rows (15× slower at sf0.1,
    272 s at sf0.5). The explicit-width repartition must survive into
    the executed plan: after running, the join stage may not have
    collapsed to a single partition."""
    from clickhouse_aggregation_spark.operators.dedup import (
        embedding_lsh_banded_pairs)
    from clickhouse_aggregation_spark.sources.tables import load_table
    df = embedding_lsh_banded_pairs(load_table(spark, sf_dir, "embeddings"))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"REPARTITION_BY_NUM", plan)
    assert m is not None, "explicit-width repartition missing from plan"


def test_semantic_dedup_is_cell_local_equi_join(spark, sf_dir):
    """SemDeDup's pairwise search must stay INSIDE k-means cells: an
    equi-join on centroid_id (never a corpus cartesian), with the cell
    assignment the shared broadcast + min_by aggregation (no window
    over the 16x centroid expansion) — inline, or served from the
    session-persisted index table (cache scan)."""
    plan = _plan(spark, sf_dir, "dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "centroid_id" in plan
    assert "min_by" in plan or "InMemoryTableScan" in plan


def test_temperature_mix_joins_are_broadcast(spark, sf_dir):
    """The per-source threshold table is tiny at any corpus size: both
    the anchor (1-row min) and the threshold join must broadcast —
    the corpus is never shuffled on the join key."""
    plan = _plan(spark, sf_dir, "pipeline_temperature_mix")
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_block_exact_is_hash_groupby_equi_join(spark, sf_dir):
    """ExactSubstr-at-block-granularity must be one combinable hash
    aggregate on the block hash plus one equi-join back — never a
    window over the occurrence explosion, never a cartesian."""
    plan = _plan(spark, sf_dir, "dedup_block_exact")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_dsir_feature_tables_broadcast_topk_take_ordered(spark, sf_dir):
    """DSIR's two feature distributions are B=512-row tables: the
    lam join onto per-doc tf must broadcast (the corpus is never
    shuffled on the bucket key), the only nested-loop is the 1-row
    totals anchor, and the final top-K is TakeOrdered."""
    plan = _plan(spark, sf_dir, "pipeline_dsir_sample")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_vocab_coverage_head_is_take_ordered_no_global_sort(spark, sf_dir):
    """The coverage curve must pull the top-10k head via TakeOrdered —
    the full vocabulary is never globally sorted — and the row_number
    window runs only over that bounded head."""
    plan = _plan(spark, sf_dir, "text_vocab_coverage")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bm25_query_join_broadcast_topk_take_ordered(spark, sf_dir):
    """BM25's query table is <=8 rows: the scoring join must broadcast
    (the corpus tf table is never shuffled on the token key for
    scoring), the final top-10 is TakeOrdered, and nothing drops to
    Python."""
    plan = _plan(spark, sf_dir, "text_bm25_topk")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_bpe_pair_counts_vocab_sized_takeordered(spark, sf_dir):
    """BPE pair counting must collapse the corpus to distinct words
    BEFORE the pair explosion (two combinable aggs), finish with
    TakeOrdered top-k (no global sort), and stay JVM-side."""
    plan = _plan(spark, sf_dir, "text_bpe_pair_counts")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
    # word-collapse agg + pair-count agg = exactly two hash exchanges
    assert plan.count("Exchange hashpartitioning") == 2


def test_embedding_matrix_stats_no_join_single_exchange(spark, sf_dir):
    """The matrix aggregates must be row-local expansions + one
    combinable aggregation: NO join anywhere, and exactly one shuffle
    (the partial->final agg hop) whose width is the cell count, not
    the corpus. The Gram matrix must additionally take the
    Arrow-batched numpy path (MapInPandas computing Q^T.Q per batch),
    NOT a 2080x-per-row JVM explode."""
    for name in ("embedding_gram_matrix", "embedding_dim_stats"):
        plan = _plan(spark, sf_dir, name)
        assert "Join" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert plan.count("Exchange hashpartitioning") <= 1, name
    gram = _plan(spark, sf_dir, "embedding_gram_matrix")
    assert "MapInPandas" in gram
    assert "Explode" not in gram and "Generate" not in gram


def test_decode_stats_one_arrow_stage_no_shuffle(spark, sf_dir):
    """Real-decode pipeline shape (OPTIMIZATION r12): synthesis and
    decode are FUSED into one Arrow-batched MapInPandas stage — the
    payload bytes never round-trip through the JVM (the two-stage form
    shipped every payload across the Python boundary twice; measured
    0.89→0.57 s at sf0.1). The only allowed exchange is
    ensure_parallelism's round-robin on a skinny fixture; no join, no
    row-at-a-time Python, no aggregation."""
    plan = _plan(spark, sf_dir, "multimodal_decode_stats")
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "hashpartitioning" not in plan       # no keyed shuffle


def test_bpe_train_no_corpus_join_jvm_only(spark, sf_dir):
    """The merge loop must stay JVM-side (no Python anywhere) with the
    only joins being the 1-row argmax broadcasts; the vocabulary
    persist keeps the corpus collapse out of repeated subtrees."""
    plan = _plan(spark, sf_dir, "text_bpe_train_merges")
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan       # nothing corpus-sized joins
    assert "InMemoryTableScan" in plan       # persisted round-0 vocab


def test_bpe_encode_single_equijoin_on_word(spark, sf_dir):
    """Corpus encoding must be ONE equi-join of the (source, word)
    aggregate against the vocabulary-sized encoding table — never
    per-occurrence re-encoding, never Python."""
    plan = _plan(spark, sf_dir, "text_bpe_encode_corpus")
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_floor_route_reads_persisted_eval_tables(spark, sf_oracle_dir):
    """The router's gate must read the session-persisted baseline and
    capped banded pairs (InMemoryTableScan), not rebuild the allpairs
    verify per call."""
    from clickhouse_aggregation_spark.operators import dedup

    # populate the session caches, then check the routed plan reads them
    dedup.capped_exact_pairs(spark, sf_oracle_dir).count()
    dedup.capped_banded_pairs(spark, sf_oracle_dir).count()
    plan = _plan(spark, sf_oracle_dir, "dedup_neardup_floor_route")
    assert "InMemoryTableScan" in plan


def test_memo_plan_fns_run_zero_jobs_at_construction(spark, sf_oracle_dir):
    """Every memo_plan=True query must be PURE LAZY CONSTRUCTION
    (VERDICT r11 what's-wrong #5, made machinery): with the session
    indexes warm, re-constructing the finalized frame after evicting
    its memo entry must schedule ZERO Spark jobs. An eager fn behind
    the memo (count/collect/persist-materialize/loop) would convert
    per-call work into a cached result — result caching, not plan
    preparation — and fails here."""
    from clickhouse_aggregation_spark.operators import registry

    memoized = [n for n, s in REGISTRY.items() if s.memo_plan]
    # the audited r11 opt-in set must stay opted in (13 queries)
    assert len(memoized) >= 13
    sc = spark.sparkContext
    for name in memoized:
        spec = REGISTRY[name]
        # first call OUTSIDE the gate: one-time session-index builds
        # (persisted corpus/vocab frames) may legitimately run jobs
        spec.fn(spark, sf_oracle_dir)
        key = (name, sc.applicationId, sf_oracle_dir)
        registry._PLAN_MEMO.pop(key, None)     # force re-construction
        group = f"memo-gate-{name}"
        sc.setJobGroup(group, "memo construction-only gate")
        try:
            spec.fn(spark, sf_oracle_dir)
        finally:
            sc.setJobGroup(None, None)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs == [], \
            f"{name}: memo_plan fn ran Spark jobs {jobs} at construction"


def test_subset_copartition_join_reuse_is_pinned(spark, sf_dir):
    """requireAllClusterKeysForCoPartition=false (session.py) lets the
    cheapest_supplier_per_part join-back ride the one explicit
    repartition(l_partkey) that also serves its distinct and min
    aggregations (VERDICT r11 what's-wrong #4: the global conf needed
    a plan gate naming its dependents). With the conf regressed to the
    default the same plan grows to 10 Exchanges (measured r12);
    late_sole_supplier pins the sibling shared-exchange rewrite, which
    must hold with or without the conf."""
    assert spark.conf.get(
        "spark.sql.requireAllClusterKeysForCoPartition") == "false"
    plan = _plan(spark, sf_dir, "cheapest_supplier_per_part")
    assert plan.count("Exchange") <= 8
    plan = _plan(spark, sf_dir, "late_sole_supplier")
    assert plan.count("Exchange") <= 4

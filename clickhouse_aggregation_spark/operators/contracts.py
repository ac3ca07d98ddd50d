"""GENERATED by tools/gen_contracts.py — per-query output contracts.

Maps declared-query name -> {column: kind} for every column whose raw
output type needs a boundary cast (see contract.py). Regenerate after
changing any declared query's output schema:

    python tools/gen_contracts.py

``tests/test_contracts.py`` asserts this file matches the live schemas.
"""

CONTRACTS: dict[str, dict[str, str]] = {'mv_usdc_daily_block': {'total_usdc': 'i64'},
 'mv_usdc_hourly_block': {'total_volume': 'i64'},
 'mv_usdc_hourly_block_approx': {'total_volume': 'i64'},
 'mv_top_senders': {'total_sent': 'i64'},
 'mv_top_receivers': {'day': 'ts', 'total_received': 'i64'},
 'mv_tx_size_distribution': {'day': 'ts', 'total_volume': 'i64'},
 'mv_recent_activity': {'value': 'i64'},
 'mv_usdc_daily_ts': {'day': 'ts', 'total_usdc': 'i64'},
 'mv_usdc_hourly_ts': {'total_volume': 'i64'},
 'mv_top_addresses': {'volume': 'i64', 'day': 'ts'},
 'mv_volume_rollup_subtotals': {'total_volume': 'i64'},
 'mv_daily_with_fill': {'day': 'ts', 'total_usdc': 'i64'},
 'readme_daily_volume_7d': {'day': 'ts', 'daily_volume': 'i64'},
 'readme_top_senders': {'volume': 'i64'},
 'readme_size_distribution': {'volume': 'i64'},
 'monitoring_global_stats': {'total_volume': 'i64'},
 'monitoring_recent_sample': {'value': 'i64'},
 'retraction_net_daily': {'day': 'ts', 'net_volume': 'i64'},
 'dedup_latest_version': {'value': 'i64'},
 'events_json_daily': {'day': 'ts', 'sum_value': 'f64'},
 'events_type_pivot': {'day': 'ts'},
 'tpch_q1_pricing_summary': {'sum_qty': 'f64',
                             'sum_base_price': 'f64',
                             'sum_disc_price': 'f64'},
 'tpch_q3_shipping_priority': {'revenue': 'f64'},
 'tpch_q5_local_supplier_volume': {'revenue': 'f64'},
 'top_customers_per_nation': {'total_spend': 'f64'},
 'orders_priority_by_month': {'total_price': 'f64'},
 'abi_decode_transfers': {'value': 'i64'},
 'tiered_union_stats': {'net_volume': 'i64'},
 'entity_by_id': {'value': 'i64'},
 'entity_filter_paginated': {'value': 'i64'},
 'events_hourly_window': {'total_value': 'f64'},
 'sql_adhoc_daily_volume': {'day': 'ts', 'daily_volume': 'i64'},
 'sql_adhoc_whale_report': {'day': 'ts', 'whale_volume': 'i64'},
 'events_sessionization': {'total_value': 'f64'},
 'events_running_user_stats': {'running_value': 'f64'},
 'nation_trade_flows': {'revenue': 'f64'},
 'market_share_by_year': {'target_volume': 'f64', 'total_volume': 'f64'},
 'product_profit_by_nation_year': {'profit': 'f64'},
 'supplier_revenue_share': {'revenue': 'f64'},
 'top_revenue_supplier': {'total_revenue': 'f64'},
 'small_order_part_revenue': {'total_revenue': 'f64'},
 'disjunctive_promo_revenue': {'revenue': 'f64'},
 'idle_rich_customers': {'totacctbal': 'f64'},
 'streaming_mv_daily_epochs': {'total_usdc': 'i64'}}

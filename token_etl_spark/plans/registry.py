"""Declared query set: name → QuerySpec (Spark plan + DuckDB oracle).

This is the single source of truth consumed by ``__spark_entry__.py``
(the driver contract), ``bench.py``, and the local correctness runner
(``scripts/check_correctness.py``).
"""

from __future__ import annotations

from token_etl_spark.plans import (
    curation,
    domain,
    extensions,
    quality,
    relational,
    tpch,
    tpch2,
    tpch3,
)
from token_etl_spark.plans.base import QuerySpec

# The external correctness gate verifies the first 50 entries of SPECS
# in dict order, so the order decides which queries it checks.
# ``_PRIORITY_NAMES`` sets that order; every other query follows in
# module order. Rule for re-ordering it:
#   1. a query new in this round goes first;
#   2. the rest fill the window oldest-first by the last round in which
#      the gate verified them green — the newest CORRECTNESS_r*.json
#      that lists the query (a query in none of them counts as oldest).
# Queries outside the window stay covered by
# ``scripts/check_correctness.py``, which runs every declared query.
_PRIORITY_NAMES = [
    "ext_shard_apply",
    "ext_decontaminate",
    "ext_hash_split",
    "rel_anti_join",
    "rel_notin_blacklist",
    "rel_prefix_keys",
    "rel_semi_join",
    "rel_union_distinct",
    "evt_holder_count",
    "evt_whale_count",
    "rel_pivot_priority",
    "evt_changelog_map",
    "evt_changelog_roundtrip",
    "evt_sessionization",
    "evt_wallet_pipeline",
    "ext_ann_ivf_search",
    "ext_incremental_neardup",
    "ext_ivf_cell_balance",
    "ext_multimodal_headers",
    "ext_semantic_decon",
    "rel_array_ops",
    "rel_json_props",
    "rel_median_prices",
    "rel_range_window",
    "rel_rank_pack",
    "rel_scan_pushdown",
    "rel_ship_delay_histogram",
    "rel_stats_pack",
    "rel_window_pack2",
    "tpch_brand_revenue",
    "tpch_disjunctive_filter",
    "tpch_forecast_revenue",
    "tpch_idle_rich_customers",
    "tpch_large_orders",
    "tpch_market_share",
    "tpch_min_cost_supplier",
    "tpch_nation_revenue",
    "tpch_nation_year_volume",
    "tpch_pricing_summary",
    "tpch_profit_by_nation_year",
    "tpch_promo_share",
    "tpch_returned_revenue",
    "tpch_segment_priority",
    "tpch_small_quantity_revenue",
    "tpch_top_supplier",
    "tpch_value_share_parts",
    "evt_daily_event_types",
    "ext_mixture_full",
    "tpch_priority_counts",
    "tpch_waiting_orders",
]

_MODULE_ORDER: list[QuerySpec] = [
    *extensions.SPECS,
    *curation.SPECS,
    *quality.SPECS,
    *quality.MIX_SPECS,
    *domain.SPECS,
    *tpch.SPECS,
    *tpch2.SPECS,
    *tpch3.SPECS,
    *relational.SPECS,
]
_BY_NAME = {s.name: s for s in _MODULE_ORDER}

_ALL: list[QuerySpec] = [
    *[_BY_NAME[n] for n in _PRIORITY_NAMES],
    *[s for s in _MODULE_ORDER if s.name not in _PRIORITY_NAMES],
]

_names = [s.name for s in _ALL]
assert len(_names) == len(set(_names)), f"duplicate query names: {_names}"

SPECS: dict[str, QuerySpec] = {s.name: s for s in _ALL}

QUERIES = {name: spec.fn for name, spec in SPECS.items()}
ORACLES = {name: spec.oracle for name, spec in SPECS.items() if spec.oracle is not None}
BENCH_SET = [name for name, spec in SPECS.items() if spec.bench]

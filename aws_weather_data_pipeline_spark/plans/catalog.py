"""Top-level query catalog: merges every operator module's registry.

``__spark_entry__`` consumes this; tests replay the same comparisons.
"""

from __future__ import annotations

import importlib

from .registry import QueryCatalog

# Every operator module that contributes catalog queries, in merge
# order. Each one must import: a missing or broken module raises
# instead of silently dropping its queries from the catalog.
OPERATOR_MODULES = (
    "relational",
    "weatherlike",
    "temporal",
    "text",
    "corpus",
    "sketch",
    "clustering",
    "similarity",
    "multimodal",
    "sampling",
    "streaming_equiv",
    "layout",
    "graph",
    "tablelog_queries",
)

# The driver's correctness harness checks only the FIRST 50 catalog
# entries, so ordering is coverage policy, not cosmetics. Rotation
# policy (executable form: tests/test_rotation_policy.py fails if any
# query's driver evidence would exceed 3 rounds old under this
# committed window): every round's window = (a) queries NEW this
# round, (b) queries whose SCHEMA or semantics changed this round
# even if recently green (their old driver rows no longer describe
# the current shape), then (c) the stalest remainder, oldest driver
# row first. All queries stay continuously oracle-checked by
# tests/test_catalog_oracle.py regardless of window position.
# ROUND-START CHECKLIST: run `python tools/rotate_window.py`, paste
# the emitted tuple here (adjusting only the free-slot choices), and
# re-run `pytest tests/test_rotation_policy.py`.
#
# Capacity: the rotation test caps the catalog at 50 * MAX_AGE_ROUNDS
# = 150 queries. The catalog never grows past the cap: a new query
# retires (or subsumes) one query in the same commit and takes its
# window slot.
DRIVER_WINDOW = (
    "cube_type_user_bucket",  # r14
    "customers_with_high_value_orders",  # r14
    "daily_value_rollup",  # r14
    "date_range_revenue",  # r14
    "event_gaps_lag",  # r14
    "event_rank_functions",  # r14
    "events_table_profile",  # r14
    "except_users_without_big_events",  # r14
    "gap_based_sessions",  # r14
    "grouping_sets_pricing",  # r14
    "intersect_error_purchase_users",  # r14
    "interval_range_join_counts",  # r14
    "user_running_totals",  # r14
    "ann_multiprobe_lsh_topk",  # r15
    "bpe_train_merges",  # r15
    "corpus_filter_funnel",  # r15
    "corpus_relative_quality_filter",  # r15
    "dedup_attrition_by_source",  # r15
    "doc_simpson_diversity",  # r15
    "doc_winnowing_fingerprints",  # r15
    "fixed_size_doc_sample",  # r15
    "hard_negative_mining",  # r15
    "ivf_pq_search_topk",  # r15
    "length_weighted_doc_sample",  # r15
    "lineitem_unpivot_measures",  # r15
    "mg_heavy_hitter_pairs",  # r15
    "multimodal_audio_windows",  # r15
    "multimodal_decode_flac",  # r15
    "multimodal_decode_png",  # r15
    "multimodal_image_tiles",  # r15
    "multimodal_resize_stats",  # r15
    "near_dup_pairs_winnow",  # r15
    "pq_adc_topk",  # r15
    "pq_code_assignment",  # r15
    "price_percentiles_by_flag",  # r15
    "quantile_sketch_estimates",  # r15
    "salted_hot_key_join",  # r15
    "salted_user_event_lists",  # r15
    "semantic_dedup_keep_list",  # r15
    "small_quantity_order_revenue",  # r15
    "tablelog_checkpoint_fold",  # r15
    "temperature_mixture_sample",  # r15
    "value_histogram",  # r15
    "value_outliers_exact",  # r15
    "weather_alert_feed",  # r15
    "weather_comfort_heat_index",  # r15
    "weather_conversions",  # r15
    "weather_daily_summary",  # r15
    "weather_quality_flags",  # r15
    "weather_severity_class",  # r15
)


def build_catalog() -> QueryCatalog:
    cat = QueryCatalog()
    for modname in OPERATOR_MODULES:
        cat.merge(importlib.import_module(f".{modname}", __package__).CATALOG)

    missing = [n for n in DRIVER_WINDOW if n not in cat.queries]
    if missing:
        raise ValueError(f"DRIVER_WINDOW names unknown queries: {missing}")
    ordered = QueryCatalog()
    ordered.queries = {n: cat.queries[n] for n in DRIVER_WINDOW}
    for name, q in cat.queries.items():
        if name not in ordered.queries:
            ordered.queries[name] = q
    return ordered

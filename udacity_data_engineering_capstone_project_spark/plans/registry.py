"""Unified acceptance-query registry: reference-parity + LLM-pipeline.

Consumed by ``__spark_entry__.py`` (the driver contract) and by
``bench.py``/tests. Every entry is (spark_fn, oracle_sql|None, note).

ORDERING CONTRACT: the driver's per-round CORRECTNESS file records only
the FIRST 50 registry entries, so ``_WINDOW`` names those 50 in order;
every other query follows in tier order (parity, SQL, LLM). Queries
outside the window stay verified by ``tools/oracle_check.py``.
``tools/ledger.py`` unions the CORRECTNESS files against this registry
to pick the next window (oldest driver rows first).
"""

from __future__ import annotations

from .queries_llm import LLM_QUERIES
from .queries_parity import PARITY_QUERIES
from .queries_sql import SQL_QUERIES

_MERGED: dict = {**PARITY_QUERIES, **SQL_QUERIES, **LLM_QUERIES}

#: The round-12 window: rows changed in round 12 (the IVF serving path
#: and the index maintenance path), then every row last recorded in
#: round 7, then the oldest round-8 rows alphabetically. The windows of
#: rounds 3-11 and the reasoning behind each are in git history.
_WINDOW = [
    "ann_topk_ivf",
    "ann_recall_sweep",
    "ivf_trained_recall",
    "bitext_mining_ivf",
    "ann_hubness_audit_ivf",
    "trigram_search_appended",
    "trigram_search_indexed",
    "minhash_pairs_indexed",
    "histogram_quantile_rollup",
    "hll_sketch_rollup",
    "jaccard_pairs_capped",
    "jaccard_pairs_exact",
    "join_size_estimate_sketch",
    "kmv_user_overlap",
    "lm_stupid_backoff_scores",
    "minhash_pairs",
    "multimodal_features",
    "pagerank_near_dup",
    "pipeline_observed_metrics",
    "profile_orders",
    "quality_filter_reasons",
    "repetition_scores",
    "retrieval_agreement_rbo",
    "scd2_user_status",
    "simhash_fingerprints",
    "stream_static_join",
    "stream_user_totals",
    "text_punct_stopword",
    "udtf_flatten_props",
    "upsert_user_snapshot",
    "weighted_doc_sample",
    "weighted_group_sample",
    "approx_distinct_check",
    "asof_join_events",
    "bitmap_distinct_users",
    "bitmap_weekly_retention",
    "bpe_fertility",
    "collect_sorted_names",
    "cube_status_priority",
    "full_outer_nation_balance",
    "grouping_sets_orders",
    "incremental_user_totals",
    "intersect_except_buyers",
    "join_semi_anti",
    "json_extract_agg",
    "lateral_topk_per_nation",
    "mad_by_event_type",
    "map_funcs",
    "median_price",
    "quality_checks",
]
assert len(_WINDOW) == len(set(_WINDOW)) == 50, len(_WINDOW)

ALL_QUERIES: dict = {n: _MERGED[n] for n in _WINDOW}
ALL_QUERIES.update(_MERGED)  # everything else, tier order, after the window

assert len(ALL_QUERIES) == len(_MERGED), "priority list references unknown query"


def query_fns() -> dict:
    return {name: fn for name, (fn, _sql, _note) in ALL_QUERIES.items()}


def oracle_sqls() -> dict:
    return {
        name: sql for name, (_fn, sql, _note) in ALL_QUERIES.items() if sql is not None
    }

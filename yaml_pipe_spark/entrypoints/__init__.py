"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame with
a DuckDB-oracle SQL twin where SQL-expressible.

This is the correctness contract of SURVEY.md §2: the driver runs each
`queries()` entry side-by-side with `oracle_sql()` at sf0.01 and compares
row-count + schema + order-insensitive value-hash. Conventions that make the
comparison deterministic across engines:

- cross-engine hash primitive = md5/sha256 hex strings (identical output);
- integers cast to BIGINT, floats to DOUBLE, and every float rounded
  (`F.round` / `round`) before returning;
- array indexing via 1-based `element_at` (Spark) / `l[i]` (DuckDB);
- every top-k has a deterministic tiebreak on a key column, ordering by the
  *rounded* score so boundary decisions agree bit-for-bit;
- session timezone pinned to UTC (duckdb timestamps are UTC-naive).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# importing each family module registers its queries
from yaml_pipe_spark.entrypoints import (  # noqa: F401
    ann,
    corpus,
    dedup,
    events,
    graph,
    multimodal,
    pipeline,
    rel,
    retrieval,
    streaming,
    text,
)
from yaml_pipe_spark.entrypoints._shared import REGISTRY, register  # noqa: F401
from yaml_pipe_spark.entrypoints.rel import entry  # noqa: F401

# The round driver validates a *prefix* of the queries() dict: each round
# records exactly the first 50 entries in insertion order. The prefix holds,
# in priority order:
#   1. flagship (the smoke-checked canary),
#   2. queries whose implementation changed in round 14 (their prior driver
#      rows describe code that no longer exists),
#   3. the three rows registered after round 13's prefix was spent,
#   4. the refresh queue: round-9-generation rows, starting with the six
#      that did not fit round 14's prefix.
# Every other registered query follows, sorted by name (still covered by
# bench.py and the local sf0.001/sf0.01/sf0.1 oracle-parity runs).
# tests/test_registry_order.py pins the prefix and the tail rule.
DRIVER_ORDER: list[str] = [
    "flagship",  # canary: the smoke-checked query stays first
    # -- (2) changed in round 14 (restructured implementations) --
    "quality_logreg_distill",
    "quality_nb_distill",
    "corpus_ppl_quality_corr",
    "corpus_gopher_funnel",
    "text_quality_thresholds",
    "text_c4_filters",
    "pipeline_forget_e2e",
    # -- (3) registered after round 13's prefix was spent --
    "multimodal_gif_interlaced",
    "multimodal_phash_jpeg422",
    "multimodal_phash_jpeg_pc",
    # -- (4) refresh queue: the six rows round 14's prefix could not fit --
    "rel_parts_supplier_count",
    "rel_product_profit",
    "rel_promotion_suppliers",
    "rel_revenue_trend",
    "rel_shipmode_priority",
    "rel_shipping_priority",
    # -- (4) refresh queue, continued --
    "dedup_lsh_scurve",
    "dedup_ngram_jaccard",
    "dedup_segment_exact",
    "dedup_substring_span",
    "emb_covariance",
    "emb_dim_stats",
    "emb_matryoshka_agreement",
    "emb_outlier_zscore",
    "emb_pca_project",
    "events_funnel_time",
    "events_hopping_agg",
    "events_props_extract",
    "events_props_json",
    "events_session_window",
    "events_tumbling_agg",
    "multimodal_features",
    "multimodal_phash_dedup",
    "multimodal_real_decode",
    "multimodal_resize",
    "q2_ranking_metrics",
    "rel_cube_flag_status",
    "rel_important_stock",
    "rel_join_key_skew",
    "rel_local_supplier_volume",
    "rel_min_cost_supplier",
    "rel_pareto_revenue",
    "rel_part_brand_stats",
    "stream_bm25_append",
    "stream_interval_join_outer",
    "stream_window_topk",
    "text_bpe_train",
    "text_dsir_weight",
    "text_vocab_coverage",
]


def _ordered_names() -> list[str]:
    """DRIVER_ORDER entries, then every other registered name sorted."""
    head = [n for n in DRIVER_ORDER if n in REGISTRY]
    return head + sorted(set(REGISTRY) - set(head))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }

"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``big_data_pipeline_spark/workloads/``; this
module only merges and re-exports them.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from big_data_pipeline_spark.workloads import (  # noqa: E402
    advanced,
    association,
    behavior,
    cdc_feed,
    clusters,
    data_quality,
    dedup,
    events,
    experiments,
    features,
    fingerprints,
    graph_rank,
    llm_pipeline,
    merge_workloads,
    ml_prep,
    multimodal,
    nested_types,
    pipeline_flagship,
    relational,
    runtime_filters,
    similarity,
    skew,
    streaming_surface,
    text,
    timeseries,
    tpch_like,
    tpch_subqueries,
    training_data,
    udxf_surface,
)

_MODULES = (
    relational,
    association,
    tpch_like,
    tpch_subqueries,
    advanced,
    behavior,
    events,
    experiments,
    timeseries,
    features,
    text,
    fingerprints,
    similarity,
    dedup,
    clusters,
    graph_rank,
    ml_prep,
    multimodal,
    nested_types,
    skew,
    runtime_filters,
    cdc_feed,
    llm_pipeline,
    streaming_surface,
    udxf_surface,
    data_quality,
    training_data,
    pipeline_flagship,
)


# The correctness gate runs a budgeted prefix of the registry (the
# first 50 entries), so order IS coverage. Every registered query has
# held a window slot at least once, so the window is a freshness
# rotation; queries not named here follow in registry order. The 50
# slots:
#
#   (a) 35 OLDEST-VINTAGE — every query whose last gate check was in
#       r01/r02 (registry keys grouped by last CORRECTNESS_r*
#       appearance).
#   (b) 12 RE-PROOF — queries whose plans changed after their last
#       gate check (see the comment in the tuple).
#   (c) 3 R3-VINTAGE — next-oldest fills, in registry order.
_PRIORITY = (
    # --- (a) oldest-vintage: last driver-checked r01
    "above_customer_avg_orders",
    "argmax_customer_by_segment",
    "cube_status_year",
    "customer_rank_in_segment",
    "except_customer_keys",
    "grouping_sets_status_priority",
    "intersect_customer_keys",
    "nations_per_region_list",
    "ntile_acctbal_quartiles",
    "quantity_percentiles",
    "unpivot_price_components",
    "vocab_top_tokens",
    # --- (a) oldest-vintage: last driver-checked r02
    "contamination_ngram_overlap",
    "date_arithmetic",
    "dedup_cluster_assignments",
    "dedup_keep_best",
    "doc_quality_score",
    "embedding_near_dups",
    "global_argmax_latest",
    "gopher_repetition_stats",
    "grouped_mse",
    "json_props_extract",
    "lang_id_stopwords",
    "llm_clean_corpus_stats",
    "multimodal_binary_meta",
    "price_bucket_profile",
    "regexp_text_ops",
    "stream_dedup_exact",
    "stream_session_windows",
    "stream_sliding_window_counts",
    "stream_static_enrich",
    "tfidf_top_terms",
    "time_range_window_stats",
    "variant_props_stats",
    "window_lead_next_value",
    # --- (b) re-proof of this round's touched ops: the sf10 stress on
    # ranks 21-40 changed these plans (single-exchange DSIR, star-CC
    # golden merge, array_distinct shingles, sort-merge dup spans,
    # DECIMAL-routed Theil, RocksDB/foreachBatch stream drain), so they
    # outrank r03-vintage freshness for this window; the displaced r03
    # fills rotate in r10.
    "incremental_neardup_batch",
    "split_leakage_audit",
    "dsir_importance_score",
    "golden_record_merge",
    "dup_span_fraction",
    "theil_inequality_decomposition",
    "stream_session_dynamic_gap",
    "shingle_jaccard_pairs",
    "shingle_containment_pairs",
    "minhash_lsh_dedup",
    "simhash_near_dups",
    "sorted_neighborhood_neardup",
    # --- (c) r3-vintage fills
    "dedup_cluster_star",
    "doc_pack_assign",
    "entity_blocking_pairs",
)


def _prioritize(d: dict, strict: bool = False) -> dict:
    # strict (the queries() merge, which carries every registered
    # name): a typo'd priority name must fail loudly, not silently
    # shrink the driver's correctness window (the 'k in d' filter used
    # to drop it). oracle_sql() stays non-strict — rows-only queries
    # legitimately have no SQL twin.
    if strict:
        missing = [k for k in _PRIORITY if k not in d]
        if missing:
            raise AssertionError(
                f"_PRIORITY names not in the registry: {missing}"
            )
    out = {k: d[k] for k in _PRIORITY if k in d}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return relational.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    q, _ = merge_workloads(*_MODULES)
    return _prioritize(q, strict=True)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins for every oracle-checkable query."""
    _, o = merge_workloads(*_MODULES)
    return _prioritize(o)

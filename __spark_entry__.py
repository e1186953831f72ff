"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time feature pipeline on
/root/testdata/sf0.001. ``queries()`` exposes one entry per implemented
operator from SURVEY.md §2, each runnable on any sf dir; ``oracle_sql()``
gives the DuckDB-equivalent SQL for the correctness gate. Each family
module under ``audio_feature_extraction_spark/queries/`` declares its
queries as ``QUERIES = {name: (builder, oracle_sql_text)}``; this file only
fixes their order.

Conventions shared by both sides so the driver's order-insensitive
value-hash matches:
- every computed double that involves accumulation/interpolation is
  round(x, 6) on BOTH sides; money sums go through DECIMAL(18,2/4) so the
  sum is exact before the final cast to double;
- integer window sums are cast to BIGINT on the DuckDB side (DuckDB sums
  integers into HUGEINT);
- event-time arithmetic is exact int64 microseconds (unix_micros /
  epoch_us) on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from audio_feature_extraction_spark.queries import (
    aggregates, asofq, dedupq, dtwq, flagship, joins, samplingq, sessions,
    similarityq, sketchq, streamsq, textq, tokensq, windowsq,
)
from audio_feature_extraction_spark.queries.flagship import _pipeline

# The driver's correctness gate hashes the first 50 names, so the order is
# part of the contract: tests/test_registry_pin.py pins it and
# tools/rotate_registry.py audits a rotation.
ORDER = [
    "pipeline_features", "pricing_summary", "grouped_stats", "delta9",
    "savgol_smooth", "top1_per_group", "locf_fill", "sessionize",
    "asof_range_merge", "equi_join_fanout", "anti_join", "dedup_minhash_lsh",
    "dedup_exact", "ann_cosine_topk", "media_features", "cube_report",
    "text_features", "dtw_band_cost", "dedup_clusters", "tumbling_counts",
    "binpack_assign", "time_range_stats", "doc_repetition", "contamination",
    "stratified_sample", "json_props", "ann_topk_arrow", "packed_tokens",
    "packed_sequences", "eval_sample", "substring_dedup", "ann_recall_fitted",
    "ann_auto_topk", "doc_perplexity", "source_mixture",
    "split_decontamination", "bpe_merges", "bpe_vocab_stats", "epoch_shuffle",
    "ann_recall_clustered", "trend_slope", "ann_recall", "bm25_scores",
    "bigram_lm", "hll_distinct", "bloom_prune", "session_overlap", "drift_psi",
    "approx_quantiles", "zorder_prune",
    # ---- the driver gate hashes the names above ----
    "corpus_stats", "bool_rates", "missing_rate", "quality_score",
    "session_stats", "lag_lead_delta", "rolling_stats", "preemph_zcr",
    "asof_backward", "asof_salted", "asof_broadcast", "asof_broadcast_arrow",
    "asof_forward", "dedup_ngram_jaccard", "simhash_signatures",
    "simhash_pairs", "frame_sample", "trim_active", "gate_clip", "robust_norm",
    "snr_stability", "value_histogram", "rollup_report", "vector_kernel_stats",
    "count_distinct", "gauss_smooth", "union_distinct", "intersect_users",
    "delta9_centered", "delta9_second", "sliding_counts",
    "grouping_sets_report", "pivot_report", "region_part_revenue",
    "capped_sessions", "token_slice", "rank_stats", "emb_neardup",
    "percentiles", "rolling_median", "running_totals", "ann_ivf_topk",
    "ann_lsh_topk", "band_join", "length_buckets", "token_vocab",
    "packed_rollup", "trend_fit", "asof_nearest", "dedup_clusters_star",
    "unigram_surprisal", "dedup_containment", "top_ngrams_by_source",
    "windowed_dedup", "session_token_stats", "dataset_split",
    "emb_dedup_clusters", "ann_recall_neardup", "tfidf_topterms", "cms_freq",
    "weighted_sample", "key_skew",
]

Query = tuple[Callable[[SparkSession, str], DataFrame], str]


def _merge(order: list[str], families) -> dict[str, Query]:
    """Union of the families' ``QUERIES``; ValueError naming the offenders
    unless each name is declared by one family and listed once in order."""
    merged: dict[str, Query] = {}
    twice: set[str] = set()
    for family in families:
        twice |= merged.keys() & family.QUERIES.keys()
        merged.update(family.QUERIES)
    problems = {
        "declared in two families": twice,
        "listed twice in ORDER": {n for n in order if order.count(n) > 1},
        "declared by no family": set(order) - merged.keys(),
        "missing from ORDER": merged.keys() - set(order),
    }
    bad = [f"{what}: {sorted(names)}" for what, names in problems.items()
           if names]
    if bad:
        raise ValueError("; ".join(bad))
    return merged


_REGISTRY = _merge(ORDER, (
    aggregates, asofq, dedupq, dtwq, flagship, joins, samplingq, sessions,
    similarityq, sketchq, streamsq, textq, tokensq, windowsq,
))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _REGISTRY[name][0] for name in ORDER}


def oracle_sql() -> dict[str, str]:
    return {name: _REGISTRY[name][1] for name in ORDER}

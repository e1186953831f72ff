"""Pin the driver contract across refactors: queries() key ORDER (the
driver's correctness gate hashes the first 50 entries, so order is part of
the contract) and the exact oracle-SQL text per key.

Two pins, per tools/rotate_registry.py (VERDICT r03 #7):
- PINNED_CONTENT_SHA is order-INSENSITIVE (sorted by key) — a head-50
  rotation must leave it unchanged; it moves only when a query/oracle is
  added, removed, or edited (with a green tools/check_entry.py run to
  justify it).
- PINNED_SHA + PINNED_HEAD are order-sensitive — they move on every
  rotation; `python tools/rotate_registry.py <must-gate names>` prints the
  new values and asserts the names sit inside the head-50.
"""

from __future__ import annotations

import __spark_entry__ as em
from tools.rotate_registry import HEAD_N, content_sha, order_sha

PINNED_N = 112
PINNED_CONTENT_SHA = (
    "6bd9f15e637187a25c870d850db1458ee45dc44309d210bb1b08b4ee52d5c216"
)
PINNED_SHA = (
    "f89200aadfce837bb158718a61805e665de5da8073d3d10f69cedb267886336d"
)
PINNED_HEAD = [
    "pipeline_features", "pricing_summary", "grouped_stats",
    "delta9", "savgol_smooth",
    "top1_per_group", "locf_fill", "sessionize", "asof_range_merge",
    "equi_join_fanout", "anti_join", "dedup_minhash_lsh", "dedup_exact",
    "ann_cosine_topk", "media_features",
    "cube_report", "text_features", "dtw_band_cost", "dedup_clusters",
    "tumbling_counts", "binpack_assign", "time_range_stats",
    "doc_repetition", "contamination", "stratified_sample",
    "json_props",
    "ann_topk_arrow", "packed_tokens",
    # packed_sequences (late r06) in over key_skew (driver-green
    # r04+r05, sketch family canaried)
    "packed_sequences",
    "eval_sample",
    "substring_dedup", "ann_recall_fitted", "ann_auto_topk",
    "doc_perplexity",
    # new in r06: rotated in over dataset_split / emb_dedup_clusters /
    # ann_recall_neardup / tfidf_topterms / cms_freq (driver-green r05,
    # family canaries retained — see __spark_entry__.py)
    "source_mixture", "split_decontamination", "bpe_merges",
    # bpe_vocab_stats (late r06) in over weighted_sample (driver-green
    # r04+r05, sampling family canaried)
    "bpe_vocab_stats",
    "epoch_shuffle", "ann_recall_clustered",
    "trend_slope",
    "ann_recall", "bm25_scores", "bigram_lm",
    "hll_distinct",
    "bloom_prune", "session_overlap", "drift_psi", "approx_quantiles",
    "zorder_prune",
]


def test_registry_contract_pinned():
    keys = list(em.queries())
    assert len(keys) == PINNED_N
    assert keys[:HEAD_N] == PINNED_HEAD
    osql = em.oracle_sql()
    assert set(osql) == set(keys)
    assert order_sha() == PINNED_SHA
    assert content_sha() == PINNED_CONTENT_SHA


def test_content_sha_is_rotation_invariant():
    """The content pin must not depend on dict order: recompute it over a
    reversed view and require the same digest — the property that makes a
    rotation diff reviewable (order pin moves, content pin doesn't)."""
    import hashlib

    osql = em.oracle_sql()
    h = hashlib.sha256()
    for k in sorted(list(em.queries())[::-1]):
        h.update(k.encode())
        h.update(osql.get(k, "").encode())
    assert h.hexdigest() == PINNED_CONTENT_SHA


def test_every_query_is_callable():
    for k, fn in em.queries().items():
        assert callable(fn), k


def test_merge_rejects_inconsistent_declarations():
    """The registry merge names the offending queries when a name is
    declared by two families, a family name is missing from ORDER, or
    ORDER lists a name twice."""
    from types import SimpleNamespace

    import pytest

    q = (lambda spark, sf_dir: None, "SELECT 1")
    a = SimpleNamespace(QUERIES={"x": q, "y": q})
    b = SimpleNamespace(QUERIES={"z": q})
    assert em._merge(["y", "z", "x"], (a, b)).keys() == {"x", "y", "z"}
    cases = [
        (["x", "y", "z"], (a, b, SimpleNamespace(QUERIES={"y": q})),
         r"declared in two families: \['y'\]"),
        (["x", "y"], (a, b), r"missing from ORDER: \['z'\]"),
        (["x", "y", "z", "x"], (a, b), r"listed twice in ORDER: \['x'\]"),
    ]
    for order, families, message in cases:
        with pytest.raises(ValueError, match=message):
            em._merge(order, families)

"""Physical-plan regression tests — the 100 TB story lives or dies in the
plan shape, so lock it in:

- the flagship pipeline does exactly ONE exchange of the fat token rows
  (the as-of union clustered on doc_id; every feature window reuses it),
  and its features are two Window nodes over one sort;
- a ``get_spark`` session builds plans without pyspark's per-call
  DataFrame-debugging capture, and runtime errors still raise;
- filters reach the parquet scan (PushedFilters) and unused columns are
  pruned (ReadSchema);
- the dimension side of the equi-join chain broadcasts (no shuffle of the
  fact side for the dim lookup);
- stacked window expressions over one spec collapse into one Window node
  (one sort, not five).

These assert on plan text only. Almost all run no job, so the suite stays
fast; an assertion on exchange reuse runs its query first, because AQE
decides reuse while executing.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as em
from audio_feature_extraction_spark.operators import windows as W
from audio_feature_extraction_spark.operators.backfill import locf
from audio_feature_extraction_spark.plans.pipeline import feature_pipeline

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_single_exchange(tiny_df):
    seq, ref = tiny_df
    plan = _plan(feature_pipeline(seq, ref))
    # createDataFrame inputs are local scans; the one exchange is the
    # doc_id-clustered repartition feeding the as-of window + all features
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_pipeline_three_windows_two_sorts(tiny_df):
    """The as-of window plus two feature window layers (one ``select``
    each), all over the one hash(doc_id) exchange: the as-of sort and one
    (doc_id, ts, seq) sort that both feature layers share."""
    seq, ref = tiny_df
    plan = _plan(feature_pipeline(seq, ref))
    assert len(re.findall(r"\bWindow \[", plan)) == 3, plan
    assert len(re.findall(r"\bSort \[", plan)) == 2, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_session_debugging_off_errors_still_raise(spark):
    """The per-call call-site capture is off; an ANSI runtime error in a
    built plan still raises, with its error class."""
    from pyspark.errors import ArithmeticException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.range(3).select((F.lit(1) / (F.col("id") - F.lit(1))).alias("q"))
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        df.collect()


def test_pipeline_single_exchange_on_parquet(spark):
    seq = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from audio_feature_extraction_spark.plans.from_events import (
        reference_from_events,
        sequences_from_events,
    )

    s = sequences_from_events(seq)
    r = reference_from_events(seq)
    plan = _plan(feature_pipeline(s, r))
    # sequences_from_events inserts a SLIM doc_id repartition (pre-token
    # columns only) and materializes the token arrays between it and the
    # as-of union's own repartition — so there are two doc_id exchanges,
    # but the FAT token rows cross exactly one (the as-of
    # REPARTITION_BY_NUM). The fat-rows-cross-once rule is asserted
    # structurally: the single sequence(...) materialization sits BELOW
    # the fat exchange and ABOVE the slim one in the plan tree (tree print
    # order: parents first).
    doc_exchanges = re.findall(r"Exchange hashpartitioning\(doc_id#\d+, \d+\)", plan)
    assert len(doc_exchanges) == 2, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3, plan
    assert plan.count("sequence(1,") == 1, plan
    i_fat = plan.index("REPARTITION_BY_NUM")
    i_tok = plan.index("sequence(1,")
    i_slim = plan.index("REPARTITION_BY_COL")
    assert i_fat < i_tok < i_slim, plan


def test_filter_pushdown_and_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .where(F.col("event_type") == "click")
        .select("event_id", "user_id")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "event_type" in plan.split("PushedFilters")[1][:200], plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # only the projected + filtered columns are read, not value/props/ts
    assert cols <= {"event_id", "user_id", "event_type"}, cols


def test_dim_join_broadcasts(spark):
    plan = _plan(em.queries()["equi_join_fanout"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_stacked_windows_single_sort(tiny_df):
    seq, _ = tiny_df
    w = Window.partitionBy("doc_id").orderBy("ts", "seq")
    df = (
        seq.withColumn("v_filled", locf("value", w, default=0.0))
        .withColumn("d1", W.delta1("v_filled", w))
        .withColumn("rm", W.rolling_mean("v_filled", w, 5))
        .withColumn("rs", W.rolling_std_pop("v_filled", w, 5))
        .withColumn("cum", W.running_sum(F.col("n_tok").cast("long"), w))
    )
    plan = _plan(df)
    # same partitioning + ordering → one exchange and at most two sorts
    # (Spark may split frame families into separate Window nodes but must
    # not re-exchange between them)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert len(re.findall(r"\bSort \[", plan)) <= 2, plan


@pytest.mark.parametrize("qname", ["pricing_summary", "grouped_stats"])
def test_agg_queries_partial_aggregate(spark, qname):
    """Aggregations must plan partial (map-side) + final HashAggregate."""
    plan = _plan(em.queries()[qname](spark, SF_DIR))
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan


def test_broadcast_asof_never_shuffles_left(tiny_df):
    """broadcast strategy: the fat probe side crosses NO exchange — the only
    exchanges are the slim right-side aggregation + BroadcastExchange."""
    from audio_feature_extraction_spark.operators.asof import asof_join

    seq, ref = tiny_df
    plan = _plan(asof_join(seq, ref, on=["source"], strategy="broadcast"))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastExchange" in plan, plan
    # exactly one hash exchange: the slim right-side groupBy. The left side
    # goes scan -> project -> BroadcastHashJoin with no shuffle.
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_asof_range_merge_plans_as_asof_backward(spark):
    """The registry name asof_range_merge runs the window plan: its
    normalized plan equals asof_backward's, with one hash exchange on the
    equi key feeding the Window and no range exchange."""
    def canon(name):
        plan = _plan(em.queries()[name](spark, SF_DIR))
        return re.sub(r"(#|plan_id=|lambda [a-z]+_)\d+L?", r"\1", plan)

    plan = canon("asof_range_merge")
    assert plan == canon("asof_backward")
    assert "rangepartitioning" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning\(user_id#, \d+\)", plan)) == 1, plan


def test_repetition_stats_exchanges_only_on_doc_id(spark):
    """The trigram->bigram->unigram rollup chain must reuse the posexplode
    window's hash(doc_id) partitioning: every exchange in the plan keys on
    doc_id ALONE — a hashpartitioning on (doc_id, w0, ...) would mean a
    grouping failed to reuse the clustering and added a real shuffle."""
    import re

    from audio_feature_extraction_spark.operators.quality import repetition_stats

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        repetition_stats(d)._jdf.queryExecution().executedPlan().toString()
    )
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert keys, "expected at least one exchange"
    for k in keys:
        cols = [c.strip() for c in k.split(",")[:-1]]  # last item is numParts
        assert len(cols) == 1 and cols[0].startswith("doc_id"), k


def test_top_ngrams_mapside_group_limit(spark):
    """The rank<=5 filter must compile to a map-side WindowGroupLimit
    BEFORE the per-source exchange (Spark 4's native top-k prune) — each
    input partition forwards only its own top 5, so no task ever sorts a
    whole source's shingle histogram."""
    plan = _plan(em.queries()["top_ngrams_by_source"](spark, SF_DIR))
    assert re.search(
        r"WindowGroupLimit \[source#\d+\][^\n]*Partial", plan
    ), plan
    assert re.search(r"Window \[row_number\(\)[^\n]*\[source#\d+\],", plan), plan


def test_dtw_single_arrow_kernel(spark):
    """dtw_join runs every pair's DP in one batched Arrow kernel: exactly one
    MapInArrow, no per-key cogroup, no forced repartition and no
    row-at-a-time Python UDF. The packing aggregates and the full-outer
    join reuse the row_number windows' user_id exchanges: two in all."""
    plan = _plan(em.queries()["dtw_band_cost"](spark, SF_DIR))
    assert plan.count("MapInArrow") == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    for node in ("FlatMapCoGroupsInPandas", "REPARTITION_BY_NUM", "BatchEvalPython"):
        assert node not in plan, plan


def test_unigram_surprisal_broadcast_total(spark):
    """The corpus-total single-row frame joins via broadcast nested loop —
    never a real cartesian shuffle."""
    plan = _plan(em.queries()["unigram_surprisal"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bm25_broadcast_totals_and_groupsize(spark):
    """bm25_scores: the corpus-stats single-row frame rides a broadcast
    nested loop (no cartesian shuffle), per-term tf comes out of ONE
    doc_id aggregation (no per-term scans — exactly one scan of
    documents on the per_doc side plus one on the totals side)."""
    plan = _plan(em.queries()["bm25_scores"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tfidf_topterms_mapside_group_limit(spark):
    """tfidf_topterms: the rank<=3 per-doc window must compile to the
    map-side WindowGroupLimit prune, like top_ngrams_by_source."""
    plan = _plan(em.queries()["tfidf_topterms"](spark, SF_DIR))
    assert re.search(
        r"WindowGroupLimit \[doc_id#\d+L?\][^\n]*Partial", plan
    ), plan
    assert "CartesianProduct" not in plan, plan


def test_trend_slope_single_exchange(spark):
    """trend_slope: the per-user window min and the per-user aggregation
    must share ONE hash(user_id) exchange — the agg reuses the window's
    clustering, so the events table crosses the wire exactly once."""
    plan = _plan(em.queries()["trend_slope"](spark, SF_DIR))
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(keys) == 1 and keys[0].startswith("user_id"), keys


def test_bloom_prune_single_bounded_exchange(spark):
    """The Bloom probe path must never shuffle the probe: ONE hash
    exchange total (the bounded <=m_bits bit distinct), the bitset rides
    a single-row BroadcastNestedLoopJoin (never CartesianProduct), and
    the exact-flag join broadcasts."""
    plan = (
        em.queries()["bloom_prune"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "qname", ["bloom_prune", "media_features", "ann_ivf_topk"]
)
def test_cpu_heavy_scans_spread_round_robin(spark, qname):
    """Each single-row-group scan feeding a per-row kernel (the Bloom md5
    probe, the media decode, the IVF argmin) is spread round-robin before
    the kernel, so the kernel does not run on the scan's one task."""
    plan = _plan(em.queries()[qname](spark, SF_DIR))
    assert "Exchange RoundRobinPartitioning" in plan, plan


def test_drift_psi_single_exchange(spark):
    """All 24 PSI bin counts come from ONE conditional-sum groupBy: a
    single event_type exchange, the fold is projection-only."""
    plan = (
        em.queries()["drift_psi"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Join" not in plan


def test_zorder_prune_single_exchange_no_join(spark):
    """The layout report is one scan + one aggregation: a single
    exchange, no join anywhere, interleave fully codegen'd."""
    plan = (
        em.queries()["zorder_prune"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_qsketch_quantile_windows_share_register_exchange(spark):
    """qsketch_quantiles' cum-window + total-window + final agg must all
    reuse the register frame's (group, _bin)-compatible partitioning:
    exchanges appear only for the register build and the group-only
    window/agg side — never more than 3 hash exchanges end to end."""
    plan = (
        em.queries()["approx_quantiles"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3
    assert "CartesianProduct" not in plan


def _subtree(plan: str, marker: str) -> str:
    """The first plan-tree node whose line contains ``marker``, with every
    line below it (deeper-indented lines up to its next sibling)."""
    lines = plan.splitlines()
    i = next(k for k, ln in enumerate(lines) if marker in ln)
    depth = re.search(r"[+:]- ", lines[i]).start()
    out = [lines[i]]
    for ln in lines[i + 1 :]:
        m = re.search(r"[+:]- ", ln)
        if m is None or m.start() <= depth:
            break
        out.append(ln)
    return "\n".join(out)


def test_jaccard_pairs_one_shingle_exchange_no_cache(spark):
    """ngram_jaccard_pairs with a df cap tokenizes and explodes the corpus
    once and caches nothing: below the shingle self-join the stream is
    shuffled by doc id (lead window) and by shingle (cap window), and the
    second join side reads the first side's shingle exchange again. Run
    first, so the asserted plan is AQE's final one (exchange reuse is
    decided there)."""
    from audio_feature_extraction_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = ngram_jaccard_pairs(docs, "doc_id", "text", df_cap=64)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "InMemoryTableScan" not in plan, plan
    assert len(re.findall(r"\bGenerate ", plan)) == 1, plan
    join = _subtree(plan, "Join [shingle#")
    shuffles = re.findall(r"[+:]- (?:\*\(\d+\) )?Exchange hashpartitioning\((\w+)#", join)
    assert sorted(shuffles) == ["doc_id", "shingle"], join
    assert re.search(r"ReusedExchange .*Exchange hashpartitioning\(shingle#", join), join

"""Property-based tests (hypothesis): core operators vs pandas oracles on
randomized small frames — keys with duplicates, tied timestamps, NULL runs,
empty sides. Complements the fixed-fixture tests with adversarial shapes."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Window
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.asof import asof_join, dedupe_right
from audio_feature_extraction_spark.operators.backfill import locf
from audio_feature_extraction_spark.operators.sessionize import with_session_id

KEYS = ["a", "b", "c"]

rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.integers(min_value=0, max_value=500),  # ts seconds
        st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
    ),
    min_size=1,
    max_size=40,
)

# SPARK_GRAFT_FUZZ=N deep-fuzz override (CI default stays fast)
import os

SETTINGS = settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_FUZZ", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _to_pdf(rows):
    pdf = pd.DataFrame(rows, columns=["k", "sec", "v"])
    pdf["rid"] = range(len(pdf))  # unique deterministic tiebreak
    pdf["ts"] = pd.to_datetime(pdf.sec, unit="s")
    return pdf


def _to_sdf(spark, pdf):
    return spark.createDataFrame(
        pdf[["k", "ts", "v", "rid"]],
        schema="k string, ts timestamp, v double, rid long",
    ).repartition(4)


@given(rows=rows_strategy)
@SETTINGS
def test_locf_matches_pandas_ffill(spark, rows):
    pdf = _to_pdf(rows)
    w = Window.partitionBy("k").orderBy("ts", "rid")
    got = (
        _to_sdf(spark, pdf)
        .select("rid", locf("v", w, default=None).alias("f"))
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    want = (
        pdf.sort_values(["k", "ts", "rid"], kind="mergesort")
        .groupby("k")["v"]
        .ffill()
        .reindex(pdf.index)
    )
    want = pdf.assign(f=want).sort_values("rid").reset_index(drop=True)["f"]
    g = got.f.to_numpy()
    e = want.to_numpy(dtype=float)
    assert ((g == e) | (np.isnan(g) & np.isnan(e))).all()


@given(rows=rows_strategy, gap=st.integers(min_value=1, max_value=100))
@SETTINGS
def test_sessionize_matches_pandas(spark, rows, gap):
    pdf = _to_pdf(rows)
    got = (
        with_session_id(
            _to_sdf(spark, pdf), keys=["k"], ts="ts", order=["ts", "rid"],
            gap_sec=float(gap),
        )
        .select("rid", "session_id")
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    p = pdf.sort_values(["k", "ts", "rid"], kind="mergesort").copy()
    new = (p.groupby("k")["sec"].diff() > gap).astype(int)
    p["sid"] = new.groupby(p["k"]).cumsum()
    want = p.sort_values("rid").reset_index(drop=True)["sid"]
    assert (got.session_id.to_numpy() == want.to_numpy()).all()


@given(
    lrows=rows_strategy,
    rrows=rows_strategy,
    tol=st.one_of(st.none(), st.integers(min_value=0, max_value=200)),
    strategy=st.sampled_from(["window", "salted", "broadcast"]),
)
@SETTINGS
def test_asof_matches_pandas_merge_asof(spark, lrows, rrows, tol, strategy):
    lp, rp = _to_pdf(lrows), _to_pdf(rrows)
    l = _to_sdf(spark, lp)
    r = dedupe_right(
        _to_sdf(spark, rp).select("k", "ts", F.col("v").alias("rv")),
        on=["k"], ts="ts",
    )
    got = (
        asof_join(
            l, r, on=["k"], left_ts="ts",
            tolerance_sec=float(tol) if tol is not None else None,
            strategy=strategy,
        )
        .select("rid", "matched_ts", "rv")
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )

    rd = (
        rp.groupby(["k", "ts"], as_index=False)["v"].max().rename(columns={"v": "rv"})
    )
    want = pd.merge_asof(
        lp.sort_values("ts", kind="mergesort"),
        rd.sort_values("ts", kind="mergesort").rename(columns={"ts": "matched_ts"}),
        left_on="ts", right_on="matched_ts", by="k", direction="backward",
        tolerance=pd.Timedelta(seconds=tol) if tol is not None else None,
    ).sort_values("rid").reset_index(drop=True)

    gm = pd.to_datetime(got.matched_ts).to_numpy()
    em = pd.to_datetime(want.matched_ts).to_numpy()
    assert ((gm == em) | (pd.isna(gm) & pd.isna(em))).all()
    gv, ev = got.rv.to_numpy(dtype=float), want.rv.to_numpy(dtype=float)
    assert ((gv == ev) | (np.isnan(gv) & np.isnan(ev))).all()


@given(rows=rows_strategy, win=st.sampled_from([30, 60, 300]))
@SETTINGS
def test_first_per_window_matches_pandas(spark, rows, win):
    """Windowed dedup vs pandas: first row by (ts, rid) per (key, bucket),
    bucket = exact integer floor of epoch seconds to the window."""
    from audio_feature_extraction_spark.operators.dedup import first_per_window

    pdf = _to_pdf(rows)
    got = (
        first_per_window(
            _to_sdf(spark, pdf),
            keys=["k"],
            ts="ts",
            window_sec=float(win),
            tiebreak=["rid"],
        )
        .toPandas()
        .sort_values("rid")
    )
    pdf2 = pdf.copy()
    pdf2["bucket"] = (pdf2.sec // win) * win
    want = (
        pdf2.sort_values(["ts", "rid"], kind="mergesort")
        .groupby(["k", "bucket"], as_index=False)
        .first()
    )
    assert sorted(got.rid.tolist()) == sorted(want.rid.tolist())
    # window-start column is exact µs arithmetic
    assert (
        got.sort_values("rid").win_start_us.to_numpy()
        == (pdf.set_index("rid").loc[got.rid].sec.to_numpy() // win) * win * 1_000_000
    ).all()


words_strategy = st.lists(
    st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=12),
    min_size=1,
    max_size=8,
)


@given(docs=words_strategy)
@SETTINGS
def test_repetition_stats_matches_pandas(spark, docs):
    """repetition_stats vs a direct pandas n-gram computation on random
    word lists (heavy repetition by construction: 4-word vocab)."""
    from audio_feature_extraction_spark.operators.quality import repetition_stats

    pdf = pd.DataFrame(
        {"doc_id": range(len(docs)), "text": [" ".join(d) for d in docs]}
    )
    sdf = spark.createDataFrame(pdf, schema="doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict() for r in repetition_stats(sdf).collect()
    }
    for i, ws in enumerate(docs):
        g2 = [tuple(ws[j : j + 2]) for j in range(len(ws) - 1)]
        g3 = [tuple(ws[j : j + 3]) for j in range(len(ws) - 2)]
        exp2 = None if not g2 else round(1.0 - len(set(g2)) / len(g2), 6)
        exp3 = None if not g3 else round(1.0 - len(set(g3)) / len(g3), 6)
        counts = pd.Series(ws).value_counts()
        top_n = counts.max()
        top_w = min(w for w, c in counts.items() if c == top_n)
        row = got[i]
        for got_v, exp_v in ((row["dup2_frac"], exp2), (row["dup3_frac"], exp3)):
            if exp_v is None:
                assert got_v is None
            else:
                assert got_v == pytest.approx(exp_v, abs=1e-6)
        assert row["top_word"] == top_w and row["top_word_count"] == top_n
        assert row["top_word_frac"] == pytest.approx(
            round(top_n / len(ws), 6), abs=1e-6
        )


edges_strategy = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=0,
    max_size=25,
)


@given(edges=edges_strategy)
@SETTINGS
def test_connected_components_matches_union_find(spark, edges):
    """Distributed large-star/small-star CC vs a local union-find on random
    graphs (self-loops, duplicate and reversed edges included)."""
    from audio_feature_extraction_spark.operators.graph import (
        connected_components,
    )

    n = 15
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in range(n)}
    # min-id invariant: union-find with min-root merging yields the min
    # reachable id as the representative
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(e, nodes).collect()
    }
    assert got == want


@given(
    lrows=rows_strategy,
    rrows=rows_strategy,
    tol=st.one_of(st.none(), st.integers(min_value=0, max_value=200)),
    strategy=st.sampled_from(["window", "salted", "broadcast"]),
)
@SETTINGS
def test_asof_nearest_matches_pandas(spark, lrows, rrows, tol, strategy):
    """direction='nearest' vs pandas merge_asof: closer side wins, exact
    ties break backward, tolerance filters each side before the choice."""
    lp, rp = _to_pdf(lrows), _to_pdf(rrows)
    l = _to_sdf(spark, lp)
    r = dedupe_right(
        _to_sdf(spark, rp).select("k", "ts", F.col("v").alias("rv")),
        on=["k"], ts="ts",
    )
    got = (
        asof_join(
            l, r, on=["k"], left_ts="ts",
            tolerance_sec=float(tol) if tol is not None else None,
            direction="nearest", strategy=strategy,
        )
        .select("rid", "matched_ts", "rv")
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    rd = (
        rp.groupby(["k", "ts"], as_index=False)["v"].max().rename(columns={"v": "rv"})
    )
    want = pd.merge_asof(
        lp.sort_values("ts", kind="mergesort"),
        rd.sort_values("ts", kind="mergesort").rename(columns={"ts": "matched_ts"}),
        left_on="ts", right_on="matched_ts", by="k", direction="nearest",
        tolerance=pd.Timedelta(seconds=tol) if tol is not None else None,
    ).sort_values("rid").reset_index(drop=True)
    gm = pd.to_datetime(got.matched_ts).to_numpy()
    em = pd.to_datetime(want.matched_ts).to_numpy()
    assert ((gm == em) | (pd.isna(gm) & pd.isna(em))).all()
    gv, ev = got.rv.to_numpy(dtype=float), want.rv.to_numpy(dtype=float)
    assert ((gv == ev) | (np.isnan(gv) & np.isnan(ev))).all()


# --------------------------------------------------- substring-run dedup

docs_strategy = st.lists(
    st.lists(
        st.sampled_from([f"t{i}" for i in range(8)]), min_size=0, max_size=30
    ),
    min_size=1,
    max_size=12,
)


@given(docs=docs_strategy)
@SETTINGS
def test_substring_runs_match_bruteforce(spark, docs):
    """duplicated_substring_runs == a brute-force python oracle on random
    tiny-vocab corpora (heavy natural shingle collisions: adjacency
    merges, gap splits, within-doc repeats, short docs, empty docs)."""
    from audio_feature_extraction_spark.operators.dedup import (
        duplicated_substring_runs,
    )

    K, MIN_SPAN = 3, 4
    rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    sdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        schema="doc_id long, text string",
    ).repartition(3)
    got = {
        (r["doc_id"], r["run_start"], r["run_end"],
         r["n_shingles"], r["span_tokens"])
        for r in duplicated_substring_runs(
            sdf, "doc_id", "text", k=K, min_span_tokens=MIN_SPAN
        ).collect()
    }

    # brute force — NOTE: tokenization is split(" "), so an empty text is
    # ONE empty token (not zero), exactly like both engines
    toks = {i: text.split(" ") for i, text in rows}
    owners: dict[str, set] = {}
    for d, t in toks.items():
        for i in range(len(t) - K + 1):
            owners.setdefault(" ".join(t[i:i + K]), set()).add(d)
    want = set()
    for d, t in toks.items():
        kept = [
            i
            for i in range(len(t) - K + 1)
            if len(owners[" ".join(t[i:i + K])]) >= 2
        ]
        run: list[int] = []
        for i in kept + [None]:
            if run and (i is None or i != run[-1] + 1):
                span = run[-1] - run[0] + K
                if span >= MIN_SPAN:
                    want.add((d, run[0], run[-1], len(run), span))
                run = []
            if i is not None:
                run = run + [i] if run and i == run[-1] + 1 else [i]
        # (trailing run flushed by the None sentinel above)
    assert got == want

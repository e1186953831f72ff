"""Independent-implementation checks for the round-4 queries.

The DuckDB oracles prove cross-engine parity, but a bug present in BOTH
sides of an identical formula would pass them. These tests re-derive the
same answers through UNRELATED implementations (numpy polyfit, a pandas
BM25, independent sketches) so formula-level mistakes can't hide.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def _write_events(spark, tmp_path, pdf):
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_trend_slope_matches_numpy_polyfit(spark, tmp_path):
    """Engine slope == np.polyfit(deg=1) on the same quantized series:
    x = whole seconds since the user's first event, y = value rounded at
    1e-6. polyfit solves the identical least-squares problem via a
    completely different algorithm (SVD), so agreement to 1e-9 relative
    validates the closed-form integer-sum formula itself."""
    from audio_feature_extraction_spark.queries.aggregates import (
        _q_trend_slope,
    )

    rng = np.random.default_rng(13)
    rows = []
    for uid in range(6):
        n = int(rng.integers(2, 40))
        base = pd.Timestamp("2024-03-01") + pd.Timedelta(seconds=int(uid))
        ts = base + pd.to_timedelta(
            np.sort(rng.integers(0, 10_000_000, n)), unit="s"
        ) + pd.to_timedelta(rng.integers(0, 1_000_000, n), unit="us")
        v = rng.normal(50, 20, n) + 0.001 * np.arange(n)
        for t, x in zip(ts, v):
            rows.append((len(rows), t, uid, "a", float(x), "{}"))
    # a constant-time user (all events in the same second): zero variance
    t0 = pd.Timestamp("2024-03-02 12:00:00")
    for i in range(3):
        rows.append((len(rows), t0 + pd.Timedelta(microseconds=i), 99, "a", 1.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = _write_events(spark, tmp_path, pdf)
    got = _q_trend_slope(spark, d).toPandas().set_index("user_id")

    for uid, g in pdf.groupby("user_id"):
        us = g.ts.astype("int64") // 1000  # ns -> us
        x = ((us - us.min()) // 1_000_000).to_numpy(dtype=np.float64)
        y = np.floor(g.value.to_numpy() * 1e6 + 0.5) / 1e6
        if np.ptp(x) == 0:
            assert pd.isna(got.loc[uid, "slope"]), uid
            continue
        want = np.polyfit(x, y, 1)[0]
        have = got.loc[uid, "slope"]
        assert np.isclose(have, want, rtol=1e-9, atol=1e-15), (uid, have, want)
        assert got.loc[uid, "n"] == len(g)


def test_trend_fit_matches_numpy(spark, tmp_path):
    """trend_fit's intercept and R² vs numpy polyfit + corrcoef on the
    same quantized series — full deg-1 fit validated by an unrelated
    algorithm."""
    from audio_feature_extraction_spark.queries.aggregates import _q_trend_fit

    rng = np.random.default_rng(29)
    rows = []
    for uid in range(5):
        n = int(rng.integers(3, 30))
        base = pd.Timestamp("2024-05-01")
        ts = base + pd.to_timedelta(
            np.sort(rng.integers(0, 5_000_000, n)), unit="s"
        )
        v = rng.normal(100, 30, n)
        for t, x in zip(ts, v):
            rows.append((len(rows), t, uid, "a", float(x), "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = _write_events(spark, tmp_path, pdf)
    got = _q_trend_fit(spark, d).toPandas().set_index("user_id")

    for uid, g in pdf.groupby("user_id"):
        us = g.ts.astype("int64") // 1000
        x = ((us - us.min()) // 1_000_000).to_numpy(dtype=np.float64)
        y = np.floor(g.value.to_numpy() * 1e6 + 0.5) / 1e6
        slope, intercept = np.polyfit(x, y, 1)
        r2 = np.corrcoef(x, y)[0, 1] ** 2
        assert np.isclose(got.loc[uid, "slope"], slope, rtol=1e-9), uid
        assert np.isclose(got.loc[uid, "intercept"], intercept, rtol=1e-9), uid
        assert np.isclose(got.loc[uid, "r2"], r2, rtol=1e-9), uid


def test_bm25_matches_pandas_reference(spark, tmp_path):
    """Engine BM25 == a from-scratch pandas implementation of the Lucene
    formula on a small synthetic corpus (atol bounded by the engine's
    1e-6 floor-round)."""
    from audio_feature_extraction_spark.queries.textq import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        _q_bm25_scores,
    )

    texts = [
        "spark join stream spark spark",
        "join join table scan",
        "stream stream stream spark filter",
        "table scan filter agg window",
        "spark",
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = (
        _q_bm25_scores(spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )

    docs = [t.split(" ") for t in texts]
    N = len(docs)
    avgdl = sum(len(d) for d in docs) / N
    for i, words in enumerate(docs):
        score = 0.0
        for t in BM25_TERMS:
            tf = words.count(t)
            df = sum(1 for d in docs if t in d)
            idf = np.log((N - df + 0.5) / (df + 0.5) + 1.0)
            score += idf * (
                tf * (BM25_K1 + 1.0)
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(words) / avgdl))
            )
        assert got.loc[i, "dl"] == len(words)
        assert abs(got.loc[i, "bm25"] - score) <= 1e-6 + 1e-12, (
            i, got.loc[i, "bm25"], score,
        )


def test_tfidf_topterms_against_pandas(spark, tmp_path):
    """Top-term SELECTION (not just scores) must match an independent
    pandas tf-idf ranking with the same tiebreak."""
    from audio_feature_extraction_spark.queries.textq import _q_tfidf_topterms

    texts = [
        "apple apple banana cherry",
        "banana banana banana date",
        "cherry date egg egg egg apple",
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(t) for t in texts],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = _q_tfidf_topterms(spark, str(tmp_path)).toPandas()

    docs = [t.split(" ") for t in texts]
    N = len(docs)
    for i, words in enumerate(docs):
        scores = {}
        for t in set(words):
            df = sum(1 for d in docs if t in d)
            scores[t] = np.floor(
                words.count(t) * np.log(N / df) * 1e6 + 0.5
            ) / 1e6
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        sub = got[got.doc_id == i].sort_values("rank")
        assert list(sub.term) == [t for t, _ in want], (i, list(sub.term), want)
        assert np.allclose(sub.tfidf.to_numpy(), [s for _, s in want])


def _md5_60(s: str) -> int:
    """Independent copy of the engine's portable 60-bit hash (hashlib,
    not Spark): int64 of the first 15 hex chars of md5."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_hll_matches_independent_python_and_error_bound(spark, tmp_path):
    """The Spark HLL estimate equals a from-scratch hashlib/numpy HLL on
    the same values (independent register math: numpy bit twiddling vs
    Spark's bin()/length() trick), and the estimate lands within 5 standard
    errors (sigma = 1.04/sqrt(m)) of the true cardinality."""
    from audio_feature_extraction_spark.operators.sketch import (
        hll_alpha,
        hll_estimate,
        hll_registers,
    )

    p = 9
    m = 1 << p
    wbits = 60 - p + 1
    vals = [f"user-{i}:{i % 7}" for i in range(5000)] * 2  # dups on purpose
    pdf = pd.DataFrame({"g": ["x"] * len(vals), "v": vals})
    sdf = spark.createDataFrame(pdf)
    regs = hll_registers(sdf, F.col("v"), ["g"], p=p)
    got = hll_estimate(regs, ["g"], p=p).toPandas().approx_distinct[0]

    # independent: numpy register simulation
    M = np.zeros(m, dtype=np.int64)
    for v in set(vals):
        h = _md5_60(v)
        idx, w = h % m, h // m
        rank = wbits if w == 0 else wbits - int(w).bit_length()
        M[idx] = max(M[idx], rank)
    s = float(np.sum(np.ldexp(1.0, -M)))  # sum 2^-M_j (M_j=0 for absent)
    raw = hll_alpha(m) * m * m / s
    zeros = int(np.sum(M == 0))
    want = m * np.log(m / zeros) if (raw <= 2.5 * m and zeros > 0) else raw
    assert abs(got - round(want, 4)) < 1e-6, (got, want)

    true_n = len(set(vals))
    assert abs(got / true_n - 1) < 5 * 1.04 / np.sqrt(m), (got, true_n)


def test_weighted_sample_matches_independent_pandas(spark, tmp_path):
    """A-ES weighted draw == an independent pandas implementation (hashlib
    uniform, numpy log, nsmallest-free sort) on every stratum; zero and
    negative weights are never drawn."""
    from audio_feature_extraction_spark.operators.quality import (
        weighted_sample_per_stratum,
    )

    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i:04d}" for i in range(n)],
            "w": np.concatenate(
                [rng.integers(1, 10_000, n - 20), np.zeros(10), -np.ones(10)]
            ).astype(np.int64),
            "s": rng.choice(["a", "b", "c"], n),
        }
    )
    sdf = spark.createDataFrame(pdf)
    got = (
        weighted_sample_per_stratum(sdf, "doc_id", "w", "s", 4)
        .select("s", "draw_rank", "doc_id")
        .toPandas()
        .sort_values(["s", "draw_rank"])
        .reset_index(drop=True)
    )

    live = pdf[pdf.w > 0].copy()
    u = live.doc_id.map(lambda d: (_md5_60(d) + 1) / float(1 << 60))
    live["wkey"] = np.log(u) / live.w.astype(np.float64)
    want = (
        live.sort_values(["wkey", "doc_id"], ascending=[False, True])
        .groupby("s")
        .head(4)
        .sort_values(["s", "wkey"], ascending=[True, False])
    )
    want["draw_rank"] = want.groupby("s").cumcount() + 1
    want = want[["s", "draw_rank", "doc_id"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"draw_rank": "int64"}), want.astype({"draw_rank": "int64"})
    )
    assert not set(got.doc_id) & set(pdf[pdf.w <= 0].doc_id)


def test_weighted_sample_inclusion_tracks_weight(spark):
    """Statistical sanity on the A-ES property itself: over 40 disjoint
    hash-perturbed repetitions, a 9x-heavier item is drawn ~9x as often
    as a unit item (binomial tolerance), i.e. inclusion probability is
    genuinely weight-proportional, not just deterministic."""
    from audio_feature_extraction_spark.operators.quality import (
        weighted_sample_per_stratum,
    )

    reps = 40
    rows = []
    for r in range(reps):
        for i in range(40):
            rows.append((f"r{r}-heavy-{i}", 9, f"s{r}"))
            rows.append((f"r{r}-light-{i}", 1, f"s{r}"))
    sdf = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "w", "s"]))
    got = weighted_sample_per_stratum(sdf, "doc_id", "w", "s", 8).toPandas()
    heavy = got.doc_id.str.contains("heavy").sum()
    light = got.doc_id.str.contains("light").sum()
    assert heavy + light == reps * 8
    # E[heavy draw] with 9:1 weights and half the items heavy is ~0.9/draw;
    # 320 draws, sigma ~ 5.4 — allow 5 sigma
    assert heavy > 0.9 * reps * 8 - 30, (heavy, light)


def test_key_skew_matches_pandas_value_counts(spark, tmp_path):
    """key_skew_report == pandas value_counts-derived report, including a
    deliberately hot key and tie-break by key."""
    from audio_feature_extraction_spark.operators.stats import key_skew_report

    keys = (["hot"] * 500) + [f"k{i % 37}" for i in range(700)]
    sdf = spark.createDataFrame(pd.DataFrame({"user_id": keys}))
    got = key_skew_report(sdf, "user_id", top_k=5).toPandas()

    vc = pd.Series(keys).value_counts()
    total, nk = int(vc.sum()), int(len(vc))
    t = (
        vc.rename_axis("user_id")
        .reset_index(name="cnt")
        .sort_values(["cnt", "user_id"], ascending=[False, True])
        .head(5)
        .reset_index(drop=True)
    )
    assert list(got.user_id) == list(t.user_id)
    assert list(got.cnt) == list(t.cnt)
    assert got.n_keys.eq(nk).all()
    np.testing.assert_allclose(
        got.share, np.round(t.cnt / total, 6), atol=1e-12
    )
    np.testing.assert_allclose(
        got.hot_factor, np.round(t.cnt * nk / total, 6), atol=1e-12
    )
    assert got.hot_factor.iloc[0] > 10  # the planted hot key is visible


def test_hll_merge_is_lossless(spark):
    """Sketch mergeability — the scale property: registers built on two
    arbitrary input splits, merged with hll_merge, fold to the bit-identical
    estimate of one pass over the whole input (max is idempotent/commutative/
    associative, so overlap between splits must not matter either)."""
    from audio_feature_extraction_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    pdf = pd.DataFrame(
        {
            "g": ["a" if i % 3 else "b" for i in range(3000)],
            "v": [f"item-{i % 1100}" for i in range(3000)],
        }
    )
    whole = spark.createDataFrame(pdf)
    lo = spark.createDataFrame(pdf.iloc[:2000])   # overlaps nothing
    hi = spark.createDataFrame(pdf.iloc[1500:])   # overlaps lo by 500 rows

    one_pass = hll_estimate(
        hll_registers(whole, F.col("v"), ["g"]), ["g"]
    ).toPandas().set_index("g").approx_distinct
    merged = hll_estimate(
        hll_merge(
            hll_registers(lo, F.col("v"), ["g"]),
            hll_registers(hi, F.col("v"), ["g"]),
            group_cols=["g"],
        ),
        ["g"],
    ).toPandas().set_index("g").approx_distinct
    pd.testing.assert_series_equal(one_pass.sort_index(), merged.sort_index())


def test_cms_never_undercounts_and_matches_independent(spark):
    """CMS point queries == an independent numpy Count-Min on the same
    data at collision-forcing width (w=256 << 600 keys), and the one-sided
    error guarantee holds: estimate >= exact for EVERY key."""
    from audio_feature_extraction_spark.operators.sketch import (
        cms_lookup,
        cms_registers,
    )

    d, w = 4, 256
    rng = np.random.default_rng(11)
    keys = rng.zipf(1.5, 5000) % 600  # zipfian: some hot, long tail
    pdf = pd.DataFrame({"k": [f"key-{k}" for k in keys]})
    sdf = spark.createDataFrame(pdf)
    regs = cms_registers(sdf, F.col("k"), [], d=d, w=w)
    probes = spark.createDataFrame(
        pd.DataFrame({"k": sorted(pdf.k.unique())})
    )
    got = (
        cms_lookup(regs, probes, "k", [], d=d, w=w)
        .toPandas()
        .set_index("k")
        .cms_count
    )

    # independent numpy CMS
    M = np.zeros((d, w), dtype=np.int64)
    for v in pdf.k:
        for i in range(d):
            M[i, _md5_60(f"{i}:{v}") % w] += 1
    exact = pdf.k.value_counts()
    for v in exact.index:
        want = min(M[i, _md5_60(f"{i}:{v}") % w] for i in range(d))
        assert got[v] == want, (v, got[v], want)
        assert got[v] >= exact[v], (v, got[v], exact[v])


def test_cms_merge_is_additive(spark):
    """Linear-sketch property: registers built on two disjoint splits,
    cms_merge'd, answer every point query identically to one pass over
    the whole input."""
    from audio_feature_extraction_spark.operators.sketch import (
        cms_lookup,
        cms_merge,
        cms_registers,
    )

    d, w = 4, 128
    pdf = pd.DataFrame({"k": [f"u{i % 97}" for i in range(2000)]})
    whole = spark.createDataFrame(pdf)
    lo = spark.createDataFrame(pdf.iloc[:900])
    hi = spark.createDataFrame(pdf.iloc[900:])
    probes = spark.createDataFrame(pd.DataFrame({"k": sorted(pdf.k.unique())}))

    one = (
        cms_lookup(cms_registers(whole, F.col("k"), [], d=d, w=w),
                   probes, "k", [], d=d, w=w)
        .toPandas().set_index("k").cms_count.sort_index()
    )
    merged_regs = cms_merge(
        cms_registers(lo, F.col("k"), [], d=d, w=w),
        cms_registers(hi, F.col("k"), [], d=d, w=w),
        group_cols=[],
    )
    two = (
        cms_lookup(merged_regs, probes, "k", [], d=d, w=w)
        .toPandas().set_index("k").cms_count.sort_index()
    )
    pd.testing.assert_series_equal(one, two)


def test_bloom_no_false_negatives_and_matches_independent(spark):
    """Bloom flags == an independent numpy filter bit-for-bit, and every
    build key passes (no false negatives) at collision-heavy m=128."""
    from audio_feature_extraction_spark.operators.sketch import (
        bloom_bits,
        bloom_might_contain,
    )

    m, k = 128, 4
    build_keys = [f"u{i}" for i in range(0, 60, 2)]  # 30 evens
    probe_keys = [f"u{i}" for i in range(60)]  # all 60
    build = spark.createDataFrame(pd.DataFrame({"k": build_keys}))
    probe = spark.createDataFrame(pd.DataFrame({"k": probe_keys}))
    bits = bloom_bits(build, F.col("k"), m_bits=m, k=k)
    got = (
        bloom_might_contain(probe, bits, "k", m_bits=m, k=k)
        .toPandas().set_index("k").bloom_pass
    )

    indep = {_md5_60(f"{i}:{v}") % m for v in build_keys for i in range(k)}
    for v in probe_keys:
        want = all(_md5_60(f"{i}:{v}") % m in indep for i in range(k))
        assert got[v] == want, (v, got[v], want)
    for v in build_keys:  # one-sided guarantee
        assert got[v]


def test_bloom_probe_rows_preserved(spark):
    """bloom_might_contain is row-preserving: duplicate probe rows and
    extra columns survive untouched (no regroup, no dedup)."""
    from audio_feature_extraction_spark.operators.sketch import (
        bloom_bits,
        bloom_might_contain,
    )

    build = spark.createDataFrame(pd.DataFrame({"k": ["a", "b"]}))
    probe = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "z", "z", "z"], "pay": [1, 2, 3, 4, 5]})
    )
    bits = bloom_bits(build, F.col("k"), m_bits=256, k=3)
    out = (
        bloom_might_contain(probe, bits, "k", m_bits=256, k=3)
        .toPandas().sort_values("pay").reset_index(drop=True)
    )
    assert len(out) == 5
    assert out.pay.tolist() == [1, 2, 3, 4, 5]
    assert out[out.k == "a"].bloom_pass.all()


def test_drift_psi_matches_independent_numpy(spark, tmp_path):
    """Engine PSI == an independently-coded numpy PSI (same fixed bins /
    split / epsilon convention) on synthetic drifted + stable types."""
    from audio_feature_extraction_spark.queries.aggregates import (
        _PSI_BINS,
        _q_drift_psi,
    )

    rng = np.random.default_rng(5)
    rows = []
    # 'stable': same distribution both halves; 'shifted': mean jumps
    for etype, mu_ref, mu_cur in [("stable", 100, 100), ("shifted", 80, 300)]:
        for half, mu, t0 in [
            ("ref", mu_ref, pd.Timestamp("2024-01-03")),
            ("cur", mu_cur, pd.Timestamp("2024-01-20")),
        ]:
            v = rng.normal(mu, 40, 400)
            ts = t0 + pd.to_timedelta(rng.integers(0, 86400 * 5, 400), "s")
            for t, x in zip(ts, v):
                rows.append((len(rows), t, 1, etype, float(x), "{}"))
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = _write_events(spark, tmp_path, pdf)
    got = _q_drift_psi(spark, d).toPandas().set_index("event_type")

    split = pd.Timestamp("2024-01-16")
    eps = 1e-6
    for etype, g in pdf.groupby("event_type"):
        ref = g[g.ts < split].value.to_numpy()
        cur = g[g.ts >= split].value.to_numpy()

        def hist(v):
            out = []
            for lo, hi in _PSI_BINS:
                m = np.ones(len(v), dtype=bool)
                if lo is not None:
                    m &= v >= lo
                if hi is not None:
                    m &= v < hi
                out.append(m.sum())
            return np.array(out, dtype=float)

        p = np.maximum(hist(ref) / len(ref), eps)
        q = np.maximum(hist(cur) / len(cur), eps)
        want = float(np.sum((p - q) * np.log(p / q)))
        have = got.loc[etype, "psi"]
        assert abs(have - want) < 2e-6, (etype, have, want)
        assert got.loc[etype, "n_ref"] == len(ref)
    # and the qualitative read: shifted >> stable
    assert got.loc["shifted", "psi"] > 0.25 > got.loc["stable", "psi"]


def test_qsketch_error_bound_and_merge(spark):
    """Quantile sketch estimates are within one bin width of the true
    quantile, and disjoint-split merge answers identically to one pass."""
    from audio_feature_extraction_spark.operators.sketch import (
        qsketch_merge,
        qsketch_quantiles,
        qsketch_registers,
    )

    lo, hi, n_bins = 0.0, 100.0, 200
    width = (hi - lo) / n_bins
    rng = np.random.default_rng(3)
    vals = np.concatenate([
        rng.normal(30, 10, 4000),
        rng.exponential(15, 3000),
        [-5.0, 250.0],  # clamped tails
    ])
    pdf = pd.DataFrame({"g": "a", "v": vals})
    sdf = spark.createDataFrame(pdf)
    qs = [0.5, 0.9, 0.99]
    regs = qsketch_registers(sdf, F.col("v"), ["g"], lo, hi, n_bins)
    one = qsketch_quantiles(regs, ["g"], qs, lo, hi, n_bins).toPandas()

    clamped = np.clip(vals, lo, np.nextafter(hi, lo))
    for q in qs:
        col = f"q_{str(q).replace('.', '_')}"
        true = np.quantile(clamped, q)
        assert abs(one[col][0] - true) <= 2 * width, (q, one[col][0], true)

    m = qsketch_merge(
        qsketch_registers(
            spark.createDataFrame(pdf.iloc[:3000]), F.col("v"), ["g"],
            lo, hi, n_bins,
        ),
        qsketch_registers(
            spark.createDataFrame(pdf.iloc[3000:]), F.col("v"), ["g"],
            lo, hi, n_bins,
        ),
        group_cols=["g"],
    )
    two = qsketch_quantiles(m, ["g"], qs, lo, hi, n_bins).toPandas()
    pd.testing.assert_frame_equal(one, two)


def test_zorder_key_matches_independent_morton(spark):
    """Engine z-key == an independently-coded python Morton interleave on
    all edge values, and it is a bijection on the grid."""
    from audio_feature_extraction_spark.operators.layout import zorder_key

    bits = 6
    grid = [(a, b) for a in range(0, 64, 7) for b in range(0, 64, 5)]
    grid += [(0, 0), (63, 63), (0, 63), (63, 0)]
    pdf = pd.DataFrame(grid, columns=["a", "b"])
    got = (
        spark.createDataFrame(pdf)
        .withColumn("z", zorder_key("a", "b", bits))
        .toPandas()
    )

    def morton(a, b):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for _, row in got.iterrows():
        assert row.z == morton(int(row.a), int(row.b)), tuple(row)
    # bijective: one z per distinct (a,b) pair
    assert got.z.nunique() == got[["a", "b"]].drop_duplicates().shape[0]


def test_bigram_lm_matches_independent_counter(spark, tmp_path):
    """bigram_lm == an independently-coded collections.Counter bigram LM
    (same add-k formula) on a tiny synthetic corpus."""
    from collections import Counter

    from audio_feature_extraction_spark.queries.textq import (
        _LM_K,
        _q_bigram_lm,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the cat sat on the mat",
                "the cat ran and the dog sat",
                "a dog sat on a mat and the cat sat",
            ],
            "lang": "en",
            "source": "t",
            "n_chars": 0,
        }
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = _q_bigram_lm(spark, str(tmp_path)).toPandas()

    bi = Counter()
    for t in docs.text:
        ws = t.split(" ")
        bi.update(zip(ws, ws[1:]))
    cw = Counter()
    for (w1, _), c in bi.items():
        cw[w1] += c
    v = len({w2 for (_, w2) in bi})
    top10 = sorted(cw.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    for rank, (w1, tot) in enumerate(top10, 1):
        conts = sorted(
            ((w2, c) for (a, w2), c in bi.items() if a == w1),
            key=lambda kv: (-kv[1], kv[0]),
        )[:3]
        for r2, (w2, c) in enumerate(conts, 1):
            row = got[(got.w1 == w1) & (got.w2 == w2)]
            assert len(row) == 1, (w1, w2)
            row = row.iloc[0]
            assert (row.w1_rank, row.w2_rank, row.c) == (rank, r2, c)
            want_p = (c + _LM_K) / (tot + _LM_K * v)
            import math

            assert abs(row.p - math.floor(want_p * 1e6 + 0.5) / 1e6) < 1e-12

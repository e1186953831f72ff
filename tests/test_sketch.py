"""Sketch family (operators/sketch.py, the key-skew report and the z-order
key behind queries/sketchq.py) vs independent numpy/hashlib/python
implementations: a bug present in both sides of an identical formula
would pass the DuckDB oracles, so these re-derive the same answers
through unrelated code."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tests.conftest import md5_60


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
        h = md5_60(v)
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
            M[i, md5_60(f"{i}:{v}") % w] += 1
    exact = pdf.k.value_counts()
    for v in exact.index:
        want = min(M[i, md5_60(f"{i}:{v}") % w] for i in range(d))
        assert got[v] == want, (v, got[v], want)
        assert got[v] >= exact[v], (v, got[v], exact[v])


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

    indep = {md5_60(f"{i}:{v}") % m for v in build_keys for i in range(k)}
    for v in probe_keys:
        want = all(md5_60(f"{i}:{v}") % m in indep for i in range(k))
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


def test_qsketch_error_bound(spark):
    """Quantile sketch estimates are within two bin widths of the true
    quantile (clamped tails included)."""
    from audio_feature_extraction_spark.operators.sketch import (
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


def test_zorder_key_sql_matches_independent_morton(spark):
    """The generated z-key SQL == an independently-coded python Morton
    interleave on all edge values, and it is a bijection on the grid."""
    from audio_feature_extraction_spark.operators.layout import zorder_key_sql

    bits = 6
    grid = [(a, b) for a in range(0, 64, 7) for b in range(0, 64, 5)]
    grid += [(0, 0), (63, 63), (0, 63), (63, 0)]
    pdf = pd.DataFrame(grid, columns=["a", "b"])
    got = (
        spark.createDataFrame(pdf)
        .withColumn("z", F.expr(zorder_key_sql("a", "b", bits)))
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

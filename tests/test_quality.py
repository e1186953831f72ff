"""Unit tests for operators/quality.py — repetition signals, contamination,
deterministic stratified and weighted sampling, power-of-two length
buckets, dataset splits and cross-split decontamination, dyadic powers and
the source-mixture thresholds of the ``source_mixture`` query.

Hand-computed expectations on tiny literal frames (the reference's test
style, SURVEY.md §5.2): every value asserted is derivable on paper, or
re-derived by an independent pandas/hashlib implementation.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators import quality as Q
from audio_feature_extraction_spark.queries.samplingq import _q_source_mixture
from tests.conftest import md5_60, write_table


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # doc 1: "a b a b a" — bigrams [ab, ba, ab, ba] → dup2 = 1 - 2/4
        (1, "a b a b a", "web"),
        # doc 2: all distinct words — zero duplication
        (2, "w x y z", "web"),
        # doc 3: single word — no bigrams (NULL dup2)
        (3, "solo", "wiki"),
        # doc 4: dominated by one word
        (4, "spam spam spam ham", "wiki"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, src string")


def test_duplicate_ngram_fraction(docs):
    out = {
        r["doc_id"]: r["d2"]
        for r in docs.select(
            "doc_id", F.round(Q.duplicate_ngram_fraction("text", 2), 6).alias("d2")
        ).collect()
    }
    assert out[1] == pytest.approx(0.5)
    assert out[2] == 0.0
    assert out[3] is None
    assert out[4] == pytest.approx(1 - 2 / 3, abs=1e-6)


def test_top_word_stats(docs):
    out = {
        r["doc_id"]: (r["top_word"], r["top_word_count"], r["top_word_frac"])
        for r in Q.top_word_stats(docs, "doc_id", "text").collect()
    }
    assert out[1] == ("a", 3, pytest.approx(0.6))
    # tie among all words → lexicographically first wins
    assert out[2] == ("w", 1, 0.25)
    assert out[4] == ("spam", 3, 0.75)


def test_repetition_stats_matches_primitives(spark, docs):
    """The one-pass explode/rollup plan must agree with the per-row array
    primitives (duplicate_ngram_fraction + top_word_stats) on every doc."""
    got = {
        r["doc_id"]: r.asDict() for r in Q.repetition_stats(docs).collect()
    }
    ref_rep = {
        r["doc_id"]: r.asDict()
        for r in docs.select(
            "doc_id",
            F.round(Q.duplicate_ngram_fraction("text", 2), 6).alias("dup2_frac"),
            F.round(Q.duplicate_ngram_fraction("text", 3), 6).alias("dup3_frac"),
        ).collect()
    }
    ref_top = {
        r["doc_id"]: r.asDict()
        for r in Q.top_word_stats(docs, "doc_id", "text").collect()
    }
    assert set(got) == set(ref_rep)
    for doc_id, row in got.items():
        assert row["dup2_frac"] == ref_rep[doc_id]["dup2_frac"], doc_id
        assert row["dup3_frac"] == ref_rep[doc_id]["dup3_frac"], doc_id
        assert row["top_word"] == ref_top[doc_id]["top_word"], doc_id
        assert row["top_word_count"] == ref_top[doc_id]["top_word_count"]
        assert row["top_word_frac"] == pytest.approx(
            ref_top[doc_id]["top_word_frac"], abs=1e-6
        )


def test_contamination_overlap(spark):
    corpus = spark.createDataFrame(
        [(10, "p q r s t"), (11, "zz yy xx")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        # shares trigrams "p q r" and "q r s" (not "r s t") with doc 10
        [(99, "p q r s X")],
        "doc_id long, text string",
    )
    out = Q.contamination_overlap(corpus, bench, "doc_id", "text", n=3).collect()
    assert {(r["doc_id"], r["overlap"]) for r in out} == {(10, 2)}


def test_contamination_distinct_shingles(spark):
    """A shingle repeated inside the corpus doc counts once (distinct)."""
    corpus = spark.createDataFrame(
        [(1, "a b c a b c")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    out = Q.contamination_overlap(corpus, bench, "doc_id", "text", n=3).collect()
    # corpus trigrams: {a b c, b c a, c a b} distinct; bench set = {a b c}
    assert [(r["doc_id"], r["overlap"]) for r in out] == [(1, 1)]


def test_stratified_sample_deterministic_and_rates(spark):
    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "big").otherwise("small").alias("src"),
    )
    rates = {"big": 0.5, "small": 0.05}
    a = Q.stratified_sample(df, "k", "src", rates).toPandas()
    b = Q.stratified_sample(
        df.repartition(7), "k", "src", rates
    ).toPandas()  # layout-independent
    sa = a.sort_values("k").reset_index(drop=True)
    sb = b.sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(sa, sb)
    got = a.groupby("src").size()
    assert got["big"] == pytest.approx(n / 2 * 0.5, rel=0.15)
    assert got["small"] == pytest.approx(n / 2 * 0.05, rel=0.5)


def test_short_doc_shingles_no_crash(spark):
    """Regression: docs shorter than n words must yield empty shingle sets,
    not a descending sequence(1,0) that crashes slice(start=0)."""
    from audio_feature_extraction_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "now three words")],
        "doc_id long, text string",
    )
    assert shingles(df, "doc_id", "text", n=3).count() == 1


def test_pow2_length_bucket(spark):
    df = spark.createDataFrame(
        [(0,), (1,), (2,), (3,), (4,), (1023,), (1024,), (1025,)], "n long"
    )
    out = dict(
        df.select("n", Q.pow2_length_bucket(F.col("n")).alias("b")).collect()
    )
    assert out == {0: 0, 1: 1, 2: 2, 3: 2, 4: 4, 1023: 512, 1024: 1024, 1025: 1024}


def test_take_per_stratum_exact_and_layout_invariant(spark):
    n = 500
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "a")
        .when(F.col("id") % 3 == 1, "b")
        .otherwise("c")
        .alias("src"),
    )
    a = Q.take_per_stratum(df, "k", "src", 7).toPandas()
    b = Q.take_per_stratum(df.repartition(11), "k", "src", 7).toPandas()
    assert (a.groupby("src").size() == 7).all()
    sa = a.sort_values(["src", "k"]).reset_index(drop=True)
    sb = b.sort_values(["src", "k"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(sa, sb)


def test_stratified_sample_rate_threshold_rounds(spark):
    """Regression (review-found): 0.29 * 10000 floats to 2899.999…; int()
    would under-sample by one bucket. A key hashing exactly into bucket 2899
    must be kept at rate 0.29."""
    edge = next(k for k in range(100_000) if md5_60(str(k)) % 10000 == 2899)
    df = spark.createDataFrame([(edge, "s")], "k long, src string")
    out = Q.stratified_sample(df, "k", "src", {"s": 0.29}).collect()
    assert len(out) == 1


def test_dataset_split_stable_under_growth(spark):
    """The anti-contamination property: a doc's split assignment must not
    change when the corpus doubles (hash-range assignment, not random)."""
    from audio_feature_extraction_spark.operators.quality import (
        dataset_split,
    )

    small = spark.range(100).select(F.col("id").alias("doc_id"))
    big = spark.range(10_000).select(F.col("id").alias("doc_id"))
    a = dataset_split(small, "doc_id").toPandas().set_index("doc_id")["split"]
    b = dataset_split(big, "doc_id").toPandas().set_index("doc_id")["split"]
    assert (a == b.loc[a.index]).all()
    # fractions roughly respected on the large corpus
    frac = b.value_counts(normalize=True)
    assert abs(frac["train"] - 0.8) < 0.02
    assert abs(frac["val"] - 0.1) < 0.02
    assert abs(frac["test"] - 0.1) < 0.02


def test_dataset_split_covers_every_row_and_validates(spark):
    from audio_feature_extraction_spark.operators.quality import (
        dataset_split,
    )

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    out = dataset_split(df, "doc_id", {"a": 0.5, "b": 0.5}).toPandas()
    assert out.split.notna().all()  # the last range is closed at `buckets`
    assert set(out.split) == {"a", "b"}
    with pytest.raises(ValueError, match="sum"):
        dataset_split(df, "doc_id", {"a": 0.5, "b": 0.3})


def test_dataset_split_rejects_non_monotonic_fractions(spark):
    """Negative or net-zero fractions that happen to sum to 1 must fail,
    not silently produce unreachable splits."""
    from audio_feature_extraction_spark.operators.quality import (
        dataset_split,
    )

    df = spark.range(10).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="must be in"):
        dataset_split(df, "doc_id", {"a": 1.0, "b": 0.1, "c": -0.1})
    with pytest.raises(ValueError, match="must be in"):
        dataset_split(df, "doc_id", {"a": 0.5, "b": 0.0, "c": 0.5})


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
    u = live.doc_id.map(lambda d: (md5_60(d) + 1) / float(1 << 60))
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


def test_dyadic_pow_matches_python_pow(spark):
    """The nested-sqrt product equals x**e bit-for-bit for dyadic e (each
    factor is a correctly-rounded sqrt chain; the only extra op is an
    IEEE-exact multiply — equality at 0 ulp is too strict for the
    multi-term products, so pin <= 1 ulp AND exactness for pure powers
    of two)."""
    xs = [0.017, 0.25, 0.5, 0.99, 1.0, 3.7, 1234.5]
    exps = [0.5, 0.25, 0.75, 0.375, 0.0, 1.0]
    df = spark.createDataFrame(pd.DataFrame({"x": xs}))
    for e in exps:
        got = [
            r["y"]
            for r in df.select(
                Q.dyadic_pow(F.col("x"), e).alias("y")
            ).collect()
        ]
        for x, g in zip(xs, got):
            want = x ** e
            assert g == pytest.approx(want, rel=1e-15), (x, e)
            if e in (0.0, 0.5, 0.25, 1.0):  # single chain: exact
                if e == 0.25:
                    want = math.sqrt(math.sqrt(x))
                elif e == 0.5:
                    want = math.sqrt(x)
                assert g == want, (x, e)


def test_dyadic_pow_rejects_non_dyadic():
    with pytest.raises(ValueError, match="dyadic"):
        Q.dyadic_pow(F.lit(2.0), 0.7)
    with pytest.raises(ValueError, match="dyadic"):
        Q.dyadic_pow_sql("x", 1 / 3)
    with pytest.raises(ValueError, match="in \\[0, 1\\]"):
        Q.dyadic_pow(F.lit(2.0), 1.5)


def _mixture(spark, tmp_path, sizes: dict[str, int]):
    """Write a corpus of ``sizes[source]`` docs per source and run the
    source_mixture query over it: (documents frame, query rows)."""
    rows = [
        (f"{src}-doc{i:07d}", src) for src, n in sizes.items() for i in range(n)
    ]
    d = write_table(
        spark, tmp_path, "documents",
        pd.DataFrame(rows, columns=["doc_id", "source"]),
    )
    docs = spark.read.parquet(f"{d}/documents.parquet")
    return docs, _q_source_mixture(spark, d).toPandas()


def _kept(docs, rates: pd.DataFrame, alpha: float) -> set[str]:
    """The resample the thresholds stand for: keep a doc iff its md5
    bucket is below its source's ``accept_threshold`` at ``alpha``."""
    t = docs.sparkSession.createDataFrame(
        rates[rates.alpha == alpha][["source", "accept_threshold"]]
    )
    kept = docs.join(F.broadcast(t), "source").where(
        Q.hash_bucket(F.col("doc_id")) < F.col("accept_threshold")
    )
    return {r["doc_id"] for r in kept.select("doc_id").collect()}


def test_source_mixture_realized_proportions_converge(spark, tmp_path):
    """The realized mixture k_s ∝ n_s^alpha: on a 100:10:1 skewed corpus
    the shares kept by the query's thresholds must match the temperature
    target within bucket quantization + hash noise (relative error < 5%
    per source), and the query's kept counts equal the filter's."""
    sizes = {"web": 20_000, "books": 2_000, "code": 200}
    docs, rates = _mixture(spark, tmp_path, sizes)
    for alpha in (0.5, 0.75):
        kept = pd.Series(sorted(_kept(docs, rates, alpha))).str.split("-").str[0]
        kept = kept.value_counts()
        q = rates[rates.alpha == alpha].set_index("source")
        assert (q.kept_docs == kept.reindex(q.index)).all(), alpha
        t = {s: n ** alpha for s, n in sizes.items()}
        tot_t = sum(t.values())
        tot_k = kept.sum()
        for s, n in sizes.items():
            target_share = t[s] / tot_t
            realized_share = kept[s] / tot_k
            assert abs(realized_share - target_share) / target_share < 0.05, (
                alpha, s, realized_share, target_share
            )


def test_source_mixture_monotone_and_stable_under_growth(spark, tmp_path):
    """Determinism contracts: (a) the kept set is identical across
    partition layouts; (b) growth of ANOTHER source can only shrink a
    source's threshold smoothly — and because acceptance is bucket <
    threshold, the kept set for any source is NESTED across threshold
    moves (monotone), never reshuffled."""
    docs, rates = _mixture(spark, tmp_path / "small", {"web": 5_000, "code": 500})
    kept1 = _kept(docs.repartition(1), rates, 0.5)
    kept7 = _kept(docs.repartition(7), rates, 0.5)
    assert kept1 == kept7

    # grow web 4x: code is still the smallest source and keeps everything;
    # web's rate falls -> web's kept set must be a SUBSET of its old kept
    # set, code's unchanged
    docs_big, rates_big = _mixture(
        spark, tmp_path / "big", {"web": 20_000, "code": 500}
    )
    kept_big = _kept(docs_big, rates_big, 0.5)
    old_web = {d for d in kept1 if d.startswith("web")}
    new_web_among_old_corpus = {
        d for d in kept_big if d.startswith("web") and int(d[-7:]) < 5_000
    }
    assert new_web_among_old_corpus <= old_web
    assert {d for d in kept1 if d.startswith("code")} == {
        d for d in kept_big if d.startswith("code") and int(d[-7:]) < 500
    }


def test_source_mixture_smallest_source_keeps_all(spark, tmp_path):
    _, rates = _mixture(spark, tmp_path, {"a": 3_000, "b": 300})
    rates = rates[rates.alpha == 0.5].set_index("source")
    assert rates.loc["b", "accept_threshold"] == 10_000  # keeps 100%
    # a's rate = sqrt(300/3000) = 0.31622... -> floor(3162.2) = 3162
    assert rates.loc["a", "accept_threshold"] == math.floor(
        math.sqrt(300 / 3000) * 10_000
    )


def test_split_decontamination_planted_leak(spark):
    """A long span planted in one train doc and one val/test doc must come
    back as a contaminated pair with the exact distinct-shingle count;
    clean docs must not appear."""
    from audio_feature_extraction_spark.operators.quality import (
        dataset_split,
        split_decontamination,
    )

    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # enough docs that the 80/10/10 hash split lands some on each side
    rows = [(f"doc{i}", f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f") for i in range(60)]
    df0 = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    sp = dataset_split(df0, "doc_id").toPandas().set_index("doc_id")["split"]
    train_doc = next(d for d, s in sp.items() if s == "train")
    eval_doc = next(d for d, s in sp.items() if s != "train")
    rows = [
        (d, leak + " " + t if d in (train_doc, eval_doc) else t)
        for d, t in rows
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = split_decontamination(
        df, "doc_id", "text", n=5, min_overlap=2
    ).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["eval_doc_id"] == eval_doc
    assert r["train_doc_id"] == train_doc
    assert r["eval_split"] == sp[eval_doc]
    # the planted 10-word span yields 6 distinct 5-gram shingles; the
    # junction shingles (leak tail + per-doc words) differ between the
    # two docs so exactly 6 are shared
    assert r["shared_shingles"] == 6


def test_split_decontamination_df_cap_drops_boilerplate(spark):
    """A shingle present in more than df_cap train docs is boilerplate:
    with the cap it must not create pairs on its own."""
    from audio_feature_extraction_spark.operators.quality import (
        split_decontamination,
    )

    boiler = "lorem ipsum dolor sit amet consectetur"
    rows = [(f"d{i}", boiler) for i in range(40)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    uncapped = split_decontamination(df, "doc_id", "text", n=5, min_overlap=1)
    assert uncapped.count() > 0
    capped = split_decontamination(
        df, "doc_id", "text", n=5, min_overlap=1, df_cap=2
    )
    assert capped.count() == 0

"""Unit tests for operators/quality.py — repetition signals, contamination,
deterministic stratified sampling, power-of-two length buckets.

Hand-computed expectations on tiny literal frames (the reference's test
style, SURVEY.md §5.2): every value asserted is derivable on paper.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators import quality as Q


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
    import hashlib

    def bucket(k: int) -> int:
        return int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % 10000

    edge = next(k for k in range(100_000) if bucket(k) == 2899)
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

"""Round-5 property/guard tests: interval-join fan-out guard, IVM drift
re-baseline, and the other VERDICT r04 / ADVICE items."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.rangejoin import (
    interval_overlap_join,
)

US = 1_000_000
DAY = 86_400 * US


def _frames(spark, rng, n, max_len_us, id_prefix=("lid", "rid")):
    starts = rng.integers(-3 * DAY, 3 * DAY, n)
    lens = rng.integers(0, max_len_us, n)
    left = pd.DataFrame(
        {id_prefix[0]: range(n), "s1": starts, "e1": starts + lens}
    )
    starts2 = rng.integers(-3 * DAY, 3 * DAY, n)
    lens2 = rng.integers(0, max_len_us, n)
    right = pd.DataFrame(
        {id_prefix[1]: range(n), "s2": starts2, "e2": starts2 + lens2}
    )
    return left, right


def _brute(left, right):
    return {
        (int(a.lid), int(b.rid))
        for a in left.itertuples()
        for b in right.itertuples()
        if a.s1 <= b.e2 and b.s2 <= a.e1
    }


def test_interval_join_fanout_guard_fires_with_fix_named(spark):
    """A month-long interval at a 1 s bucket would explode to ~2.6 M rows;
    the guard must fail fast, name the offending side and a bucket_sec
    that fits (VERDICT r04 #5)."""
    rng = np.random.default_rng(11)
    left, right = _frames(spark, rng, 20, 2 * US)
    # make one RIGHT interval a month long
    right.loc[0, "e2"] = right.loc[0, "s2"] + 30 * DAY
    with pytest.raises(ValueError, match="right.*bucket_sec|bucket_sec.*right"):
        interval_overlap_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            "s1", "e1", "s2", "e2",
            bucket_sec=1.0, max_fanout_per_row=512,
        )


def test_interval_join_widen_month_long_matches_bruteforce(spark):
    """on_excess='widen' auto-derives a cap-respecting bucket; the emitted
    pairs are bucket-invariant, so the result must equal brute force AND
    the unguarded run at a hand-picked big bucket."""
    rng = np.random.default_rng(13)
    left, right = _frames(spark, rng, 60, 5 * DAY)
    # a few month-long intervals on both sides
    for i in (0, 7):
        left.loc[i, "e1"] = left.loc[i, "s1"] + 31 * DAY
        right.loc[i, "e2"] = right.loc[i, "s2"] + 29 * DAY
    l, r = spark.createDataFrame(left), spark.createDataFrame(right)
    widened = (
        interval_overlap_join(
            l, r, "s1", "e1", "s2", "e2",
            bucket_sec=60.0, max_fanout_per_row=64, on_excess="widen",
        )
        .select("lid", "rid").toPandas()
    )
    got = set(map(tuple, widened.values.tolist()))
    assert len(widened) == len(got), "duplicate pair emitted after widening"
    assert got == _brute(left, right)
    manual = (
        interval_overlap_join(
            l, r, "s1", "e1", "s2", "e2",
            bucket_sec=7 * 86_400.0, max_fanout_per_row=None,
        )
        .select("lid", "rid").toPandas()
    )
    assert set(map(tuple, manual.values.tolist())) == got


def test_interval_join_guard_quiet_within_cap(spark):
    """Short intervals under the cap: guard explicitly on (ADVICE r05
    made it opt-in — the operator default is None), no error, pairs
    exactly brute force (the guard must not perturb results)."""
    rng = np.random.default_rng(17)
    left, right = _frames(spark, rng, 50, 3 * US)
    got = (
        interval_overlap_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            "s1", "e1", "s2", "e2", bucket_sec=1.0, max_fanout_per_row=512,
        )
        .select("lid", "rid").toPandas()
    )
    assert set(map(tuple, got.values.tolist())) == _brute(left, right)


def test_interval_join_rejects_clashing_column_names(spark):
    """ADVICE r04: identical start/end names across the inputs are
    ambiguous at join resolution — the operator must say so up front."""
    df = spark.range(3).select(
        F.col("id"), F.lit(0).alias("s"), F.lit(10).alias("e")
    )
    with pytest.raises(ValueError, match="distinct"):
        interval_overlap_join(df, df, "s", "e", "s", "e")


def test_interval_join_guard_rejects_streaming_input(spark, tmp_path):
    """ADVICE r05: the opt-in guard runs an eager batch aggregate at plan
    build — on a streaming DataFrame it must raise up front (with the
    remedy named) instead of failing deep inside Spark."""
    src = str(tmp_path / "stream_src")
    spark.range(3).select(
        F.col("id").alias("lid"),
        F.lit(0).cast("long").alias("s1"),
        F.lit(10).cast("long").alias("e1"),
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "lid long, s1 long, e1 long"
    ).parquet(src)
    batch = spark.range(2).select(
        F.col("id").alias("rid"),
        F.lit(0).cast("long").alias("s2"),
        F.lit(10).cast("long").alias("e2"),
    )
    with pytest.raises(ValueError, match="streaming"):
        interval_overlap_join(
            stream, batch, "s1", "e1", "s2", "e2",
            max_fanout_per_row=512,
        )


def test_interval_join_default_guard_off_is_lazy(spark):
    """With the default (guard off) the builder must stay pure-lazy: no
    Spark job at plan-build time. Pin via a side that would FAIL if
    executed (division by zero under ANSI) — plan build must not touch
    it."""
    poisoned = spark.range(3).select(
        F.col("id").alias("lid"),
        (F.lit(1) / F.lit(0)).cast("long").alias("s1"),
        F.lit(10).cast("long").alias("e1"),
    )
    right = spark.range(2).select(
        F.col("id").alias("rid"),
        F.lit(0).cast("long").alias("s2"),
        F.lit(10).cast("long").alias("e2"),
    )
    # must NOT raise: building the plan never runs a job
    interval_overlap_join(poisoned, right, "s1", "e1", "s2", "e2")


def test_interval_join_rejects_bad_on_excess(spark):
    df = spark.range(1).select(
        F.lit(0).alias("s1"), F.lit(1).alias("e1")
    )
    df2 = spark.range(1).select(
        F.lit(0).alias("s2"), F.lit(1).alias("e2")
    )
    with pytest.raises(ValueError, match="on_excess"):
        interval_overlap_join(
            df, df2, "s1", "e1", "s2", "e2", on_excess="explode"
        )


# ---------------------------------------------------------------- substring

def test_substring_runs_recover_planted_spans(spark):
    """Seeded planted substrings (VERDICT r04 #7 'done' bar): a 20-token
    span shared by docs A and B at DIFFERENT offsets must come back as
    exactly one maximal run per doc at the right positions; a doc that
    repeats a span only WITHIN itself must not be flagged (cross-doc
    semantics)."""
    from audio_feature_extraction_spark.operators.dedup import (
        duplicated_substring_runs,
    )

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(5000)]  # big vocab: no chance collisions

    def rand_tokens(n):
        return [vocab[i] for i in rng.integers(0, len(vocab), n)]

    shared = rand_tokens(20)
    inner = rand_tokens(12)
    docs = [
        # doc 0: shared span at token offset 5
        (0, " ".join(rand_tokens(5) + shared + rand_tokens(7))),
        # doc 1: the same span at offset 11
        (1, " ".join(rand_tokens(11) + shared + rand_tokens(3))),
        # doc 2: repeats ITS OWN 12-token span twice, shares nothing
        (2, " ".join(inner + rand_tokens(4) + inner)),
        # doc 3: pure noise
        (3, " ".join(rand_tokens(40))),
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    got = (
        duplicated_substring_runs(df, "doc_id", "text", k=8, min_span_tokens=16)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    # exactly the two planted spans, nothing else
    assert got.doc_id.tolist() == [0, 1]
    # doc 0: tokens 5..24 -> shingle starts 5..17 (last 8-gram starts at 17)
    assert got.run_start.tolist() == [5, 11]
    assert got.run_end.tolist() == [5 + 12, 11 + 12]
    assert got.span_tokens.tolist() == [20, 20]
    assert got.n_shingles.tolist() == [13, 13]


def test_substring_runs_merge_adjacent_and_gap_split(spark):
    """Two shared spans separated by a unique gap in the same doc must stay
    two runs, not merge across the gap."""
    from audio_feature_extraction_spark.operators.dedup import (
        duplicated_substring_runs,
    )

    rng = np.random.default_rng(29)
    vocab = [f"v{i}" for i in range(5000)]

    def rand_tokens(n):
        return [vocab[i] for i in rng.integers(0, len(vocab), n)]

    s1, s2 = rand_tokens(18), rand_tokens(18)
    docs = [
        (0, " ".join(s1 + rand_tokens(10) + s2)),
        (1, " ".join(s1)),
        (2, " ".join(s2)),
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    got = (
        duplicated_substring_runs(df, "doc_id", "text", k=8, min_span_tokens=16)
        .toPandas()
        .sort_values(["doc_id", "run_start"])
        .reset_index(drop=True)
    )
    d0 = got[got.doc_id == 0]
    assert len(d0) == 2, got
    assert d0.run_start.tolist() == [0, 28]
    assert d0.span_tokens.tolist() == [18, 18]


# ------------------------------------------------------------ dataset split

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


# ----------------------------------------------- review-fix regressions

def test_interval_guard_message_fix_roundtrips(spark):
    """Following the guard error's named bucket_sec must succeed (a
    display-rounded figure could raise again on retry)."""
    import re

    l = spark.createDataFrame(
        pd.DataFrame({"s1": [0], "e1": [260 * US]})
    )
    r = spark.createDataFrame(
        pd.DataFrame({"s2": [0], "e2": [US]})
    )
    with pytest.raises(ValueError) as ei:
        interval_overlap_join(
            l, r, "s1", "e1", "s2", "e2",
            bucket_sec=1.0, max_fanout_per_row=27,
        )
    advertised = float(
        re.search(r"bucket_sec>=([0-9.e+-]+)", str(ei.value)).group(1)
    )
    out = interval_overlap_join(
        l, r, "s1", "e1", "s2", "e2",
        bucket_sec=advertised, max_fanout_per_row=27,
    )
    assert out.count() == 1  # the intervals do overlap


def test_interval_guard_rejects_tiny_cap(spark):
    l = spark.createDataFrame(pd.DataFrame({"s1": [0], "e1": [1]}))
    r = spark.createDataFrame(pd.DataFrame({"s2": [0], "e2": [1]}))
    with pytest.raises(ValueError, match=">= 4"):
        interval_overlap_join(
            l, r, "s1", "e1", "s2", "e2", max_fanout_per_row=2
        )


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

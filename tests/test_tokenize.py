"""BPE tokenizer (operators/tokenize.py): builders run no Spark job, the
merge kernel agrees with the DuckDB oracle on argmax ties, non-ASCII
symbols, an empty corpus and early stop, and with an independent python
BPE at any parallelism."""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.tokenize import _merge, bpe_learn
from audio_feature_extraction_spark.queries.tokensq import (
    _BPE_N_MERGES,
    _sql_bpe_merges,
    _sql_bpe_vocab_stats,
)


def _group_job_ids(spark, group: str) -> list[int]:
    """Job ids Spark recorded under ``group``, once the listener bus has
    delivered every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_bpe_learn_builder_runs_no_job(spark):
    sc = spark.sparkContext
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["low lower lowest", "new newer newest"]})
    )
    group = "bpe-learn-builder"

    def in_group(fn):
        sc.setJobGroup(group, "bpe_learn builder probe")
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    m, syms = in_group(lambda: bpe_learn(df, "text", 8, with_symbols=True))
    assert _group_job_ids(spark, group) == []
    # the probe sees jobs once the plan does execute
    in_group(lambda: (m.collect(), syms.collect()))
    assert _group_job_ids(spark, group) != []


def _vocab(syms):
    return syms.groupBy(F.col("s").alias("token")).agg(
        F.count_distinct("word").alias("n_words"),
        F.sum("cnt").cast("long").alias("corpus_count"),
    )


def _both_engines(spark, texts: list[str]):
    """(merges, vocab) from Spark and from the oracle SQL, sorted pandas."""
    docs = pa.table({"text": pa.array(texts, pa.string())})
    con = duckdb.connect()
    con.register("documents", docs)
    dm = con.execute(_sql_bpe_merges()).fetchdf()
    dv = con.execute(_sql_bpe_vocab_stats()).fetchdf()
    m, syms = bpe_learn(
        spark.createDataFrame(docs.to_pandas(), "text string"),
        "text",
        _BPE_N_MERGES,
        with_symbols=True,
    )
    sm, sv = m.toPandas(), _vocab(syms).toPandas()

    def canon(pdf, key):
        pdf = pdf.sort_values(key).reset_index(drop=True)
        return pdf.astype({c: "int64" for c in pdf if c not in
                           ("left_sym", "right_sym", "merged", "token")})

    return (
        canon(sm, "merge_round"),
        canon(dm, "merge_round"),
        canon(sv, "token"),
        canon(dv, "token"),
    )


def test_bpe_ties_and_non_ascii_match_oracle(spark):
    """Every pair count ties at 2: left_sym decides across pairs
    (a < z < ß < é by code point, which is also UTF-8 byte order), and
    right_sym decides between (a, b) / (a, c) and (z, ß) / (z, é). The
    vocabulary fully merges after 6 of the 8 rounds."""
    texts = ["ac ab ßx éx zé zß", "ab ac éx ßx zß zé"]
    sm, dm, sv, dv = _both_engines(spark, texts)
    pairs = [(r.left_sym, r.right_sym) for r in sm.itertuples()]
    assert pairs == [
        ("a", "b"), ("a", "c"), ("z", "ß"), ("z", "é"), ("ß", "x"), ("é", "x"),
    ]
    assert (sm["pair_count"] == 2).all()
    pd.testing.assert_frame_equal(sm, dm, check_dtype=False)
    pd.testing.assert_frame_equal(sv, dv, check_dtype=False)
    assert sorted(sv["token"]) == ["ab", "ac", "zß", "zé", "ßx", "éx"]


@pytest.mark.parametrize("texts", [[], ["", " ", "  "]], ids=["no-docs", "blank"])
def test_bpe_empty_corpus_matches_oracle(spark, texts):
    sm, dm, sv, dv = _both_engines(spark, texts)
    assert len(sm) == len(dm) == 0
    assert len(sv) == len(dv) == 0


def _py_bpe(texts, n):
    """Independent reference BPE (Sennrich greedy-leftmost merge)."""
    from collections import Counter

    wc = Counter(w for t in texts for w in t.split() if w)
    syms = {w: list(w) for w in wc}
    merges = []
    for r in range(1, n + 1):
        pc = Counter()
        for w, c in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), n_ = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, a, b, a + b, n_))
        for w in syms:
            s = syms[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def test_bpe_learn_matches_reference_implementation(spark):
    texts = [
        "low lower lowest low low newer newest new",
        "wider wide wide widest new newer low",
        "the the the low deep deeper deepest",
    ]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    got = [tuple(r) for r in bpe_learn(df, "text", 8).collect()]
    assert got == _py_bpe(texts, 8)


def test_bpe_greedy_run_semantics():
    """Greedy-leftmost on repeated-symbol runs: 'aaaa' merges to (aa)(aa),
    'aaa' to (aa)a."""
    assert _merge(list("aaaa"), "a", "a") == ["aa", "aa"]
    assert _merge(list("aaa"), "a", "a") == ["aa", "a"]
    assert _merge(list("baaa"), "a", "a") == ["b", "aa", "a"]


def test_bpe_partitioning_invariance(spark):
    """Same merges learned at any parallelism (the deterministic argmax
    tie-break contract)."""
    texts = ["ab ab abc abd", "xy xy xyz ab"]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    a = [tuple(r) for r in bpe_learn(df.repartition(1), "text", 4).collect()]
    b = [tuple(r) for r in bpe_learn(df.repartition(7), "text", 4).collect()]
    assert a == b == _py_bpe(texts, 4)


def test_bpe_early_stop_when_fully_merged(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["ab ab ab"]}))
    got = bpe_learn(df, "text", 10).collect()
    assert len(got) == 1  # one merge fuses 'ab'; nothing left to merge
    assert (got[0]["left_sym"], got[0]["right_sym"]) == ("a", "b")


def test_bpe_vocab_stats_early_stop_cross_engine_parity(spark):
    """When the vocabulary exhausts before n_merges, Spark breaks the
    learning loop while the oracle's remaining t{r} CTEs go empty (their
    scalar subqueries turn NULL, so s{r} = s{r-1}); both must land on the
    same merge table AND the same final vocabulary."""
    sm, dm, sv, dv = _both_engines(spark, ["ab ab ab"])
    assert len(sm) == len(dm) == 1
    assert sm.iloc[0]["merged"] == dm.iloc[0]["merged"] == "ab"
    pd.testing.assert_frame_equal(sv, dv, check_dtype=False)

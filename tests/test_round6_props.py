"""Round-6 property tests: source-mixture temperature resampling."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.quality import (
    dyadic_pow,
    dyadic_pow_sql,
    source_mixture_rates,
    source_mixture_resample,
)


def _skewed_corpus(spark, sizes: dict[str, int]):
    rows = []
    for src, n in sizes.items():
        rows.extend((f"{src}-doc{i:07d}", src) for i in range(n))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source"])
    )


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
                dyadic_pow(F.col("x"), e).alias("y")
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
        dyadic_pow(F.lit(2.0), 0.7)
    with pytest.raises(ValueError, match="dyadic"):
        dyadic_pow_sql("x", 1 / 3)
    with pytest.raises(ValueError, match="in \\[0, 1\\]"):
        dyadic_pow(F.lit(2.0), 1.5)


def test_source_mixture_realized_proportions_converge(spark):
    """The realized mixture k_s ∝ n_s^alpha: on a 100:10:1 skewed corpus
    the kept shares must match the temperature target within bucket
    quantization + hash noise (relative error < 5% per source)."""
    sizes = {"web": 20_000, "books": 2_000, "code": 200}
    df = _skewed_corpus(spark, sizes)
    for alpha in (0.5, 0.75):
        kept = (
            source_mixture_resample(df, "doc_id", "source", alpha)
            .groupBy("source")
            .count()
            .toPandas()
            .set_index("source")["count"]
        )
        t = {s: n ** alpha for s, n in sizes.items()}
        tot_t = sum(t.values())
        tot_k = kept.sum()
        for s, n in sizes.items():
            target_share = t[s] / tot_t
            realized_share = kept[s] / tot_k
            assert abs(realized_share - target_share) / target_share < 0.05, (
                alpha, s, realized_share, target_share
            )
    # alpha=1 keeps the natural mix: every row survives (rate 1 per source)
    kept_all = source_mixture_resample(df, "doc_id", "source", 1.0).count()
    assert kept_all == sum(sizes.values())


def test_source_mixture_monotone_and_stable_under_growth(spark):
    """Determinism contracts: (a) the kept set is identical across
    partition layouts; (b) growth of ANOTHER source can only shrink a
    source's threshold smoothly — and because acceptance is bucket <
    threshold, the kept set for any source is NESTED across threshold
    moves (monotone), never reshuffled."""
    sizes = {"web": 5_000, "code": 500}
    df = _skewed_corpus(spark, sizes)
    kept1 = set(
        r["doc_id"]
        for r in source_mixture_resample(
            df.repartition(1), "doc_id", "source", 0.5
        ).select("doc_id").collect()
    )
    kept7 = set(
        r["doc_id"]
        for r in source_mixture_resample(
            df.repartition(7), "doc_id", "source", 0.5
        ).select("doc_id").collect()
    )
    assert kept1 == kept7

    # grow web 4x: code keeps everything (still smallest? no — code IS
    # smallest; web's rate falls) -> web's kept set must be a SUBSET of
    # its old kept set, code's unchanged
    sizes_big = {"web": 20_000, "code": 500}
    df_big = _skewed_corpus(spark, sizes_big)
    kept_big = set(
        r["doc_id"]
        for r in source_mixture_resample(
            df_big, "doc_id", "source", 0.5
        ).select("doc_id").collect()
    )
    old_web = {d for d in kept1 if d.startswith("web")}
    new_web_among_old_corpus = {
        d for d in kept_big if d.startswith("web") and int(d[-7:]) < 5_000
    }
    assert new_web_among_old_corpus <= old_web
    assert {d for d in kept1 if d.startswith("code")} == {
        d for d in kept_big if d.startswith("code") and int(d[-7:]) < 500
    }


def test_source_mixture_rates_smallest_source_keeps_all(spark):
    df = _skewed_corpus(spark, {"a": 3_000, "b": 300})
    rates = source_mixture_rates(df, "source", 0.5).toPandas().set_index(
        "source"
    )
    assert rates.loc["b", "accept_threshold"] == 10_000  # keeps 100%
    # a's rate = sqrt(300/3000) = 0.31622... -> floor(3162.2) = 3162
    assert rates.loc["a", "accept_threshold"] == math.floor(
        math.sqrt(300 / 3000) * 10_000
    )


# ----------------------------------------------- split decontamination


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


# ----------------------------------------------------------------- BPE


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
    from audio_feature_extraction_spark.operators.tokenize import bpe_learn

    texts = [
        "low lower lowest low low newer newest new",
        "wider wide wide widest new newer low",
        "the the the low deep deeper deepest",
    ]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    got = [tuple(r) for r in bpe_learn(df, "text", 8).collect()]
    assert got == _py_bpe(texts, 8)


def test_bpe_greedy_run_semantics(spark):
    """Greedy-leftmost on repeated-symbol runs: 'aaaa' merges to (aa)(aa),
    'aaa' to (aa)a."""
    from audio_feature_extraction_spark.operators.tokenize import (
        bpe_encode_words,
        bpe_word_counts,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["aaaa aaa baaa"]})
    )
    out = bpe_encode_words(bpe_word_counts(df, "text"), [("a", "a")])
    got = {
        r["word"]: r["ss"]
        for r in out.groupBy("word")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("p"))
        .select("word", F.transform("p", lambda x: x["s"]).alias("ss"))
        .collect()
    }
    assert got == {
        "aaaa": ["aa", "aa"],
        "aaa": ["aa", "a"],
        "baaa": ["b", "aa", "a"],
    }


def test_bpe_partitioning_invariance(spark):
    """Same merges learned at any parallelism (the deterministic argmax
    tie-break contract)."""
    from audio_feature_extraction_spark.operators.tokenize import bpe_learn

    texts = ["ab ab abc abd", "xy xy xyz ab"]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    a = [tuple(r) for r in bpe_learn(df.repartition(1), "text", 4).collect()]
    b = [tuple(r) for r in bpe_learn(df.repartition(7), "text", 4).collect()]
    assert a == b == _py_bpe(texts, 4)


def test_bpe_early_stop_when_fully_merged(spark):
    from audio_feature_extraction_spark.operators.tokenize import bpe_learn

    df = spark.createDataFrame(pd.DataFrame({"text": ["ab ab ab"]}))
    got = bpe_learn(df, "text", 10).collect()
    assert len(got) == 1  # one merge fuses 'ab'; nothing left to merge
    assert (got[0]["left_sym"], got[0]["right_sym"]) == ("a", "b")


# -------------------------------------------------------- epoch shuffle


def test_epoch_shuffle_is_seeded_permutation(spark):
    from audio_feature_extraction_spark.operators.binpack import (
        epoch_order_key,
        epoch_shuffle,
    )

    batches = spark.createDataFrame(
        pd.DataFrame(
            {"source": [f"s{i % 4}" for i in range(64)],
             "bin_id": [i // 4 for i in range(64)]}
        )
    )
    o41 = [
        (r["source"], r["bin_id"])
        for r in batches.withColumn(
            "k", epoch_order_key(41, "source", "bin_id")
        ).orderBy("k", "source", "bin_id").collect()
    ]
    o42 = [
        (r["source"], r["bin_id"])
        for r in batches.withColumn(
            "k", epoch_order_key(42, "source", "bin_id")
        ).orderBy("k", "source", "bin_id").collect()
    ]
    # permutations of the same multiset, different order per seed
    assert sorted(o41) == sorted(o42)
    assert o41 != o42

    # epoch_shuffle's partition-concatenated order == the global key order
    shuf = epoch_shuffle(batches, 41, ["source", "bin_id"], num_partitions=4)
    per_part = shuf.rdd.glom().collect()
    flat = [
        (row["source"], row["bin_id"]) for part in per_part for row in part
    ]
    assert flat == o41
    # and is partition-layout independent
    shuf2 = epoch_shuffle(
        batches.repartition(13), 41, ["source", "bin_id"], num_partitions=4
    )
    flat2 = [
        (row["source"], row["bin_id"])
        for part in shuf2.rdd.glom().collect()
        for row in part
    ]
    assert flat2 == o41


# ------------------------------------------------- bench noise triggers


def test_window_noisy_triggers():
    """VERDICT r05 #5: calibration drift must trigger a re-run even at
    zero steal (the r05 driver pass: 1221.6 -> 850.0 at 1.35% steal)."""
    from tools.hostcond import window_noisy

    base = {"steal_pct": 0.5, "cpu_score_start": 1000.0,
            "cpu_score_end": 990.0}
    assert window_noisy(base, 2.0) == ""
    assert window_noisy({**base, "steal_pct": 6.8}, 2.0) == "steal"
    # the r05 driver pass numbers: >20% drift at low steal
    drifted = {"steal_pct": 1.35, "cpu_score_start": 1221.6,
               "cpu_score_end": 850.0}
    assert window_noisy(drifted, 2.0) == "cal_drift"
    # symmetric: a ramp UP is just as suspect for min-keeping
    assert window_noisy(
        {**base, "cpu_score_start": 700.0, "cpu_score_end": 1000.0}, 2.0
    ) == "cal_drift"


def test_hostwindow_forced_noise(monkeypatch):
    """Forced-noise path: SPARK_GRAFT_FAKE_CPU_SCORES drives the window's
    calibration scores so the trigger fires deterministically — the hook
    bench.py's host block exercises."""
    import tools.hostcond as hc

    monkeypatch.setenv("SPARK_GRAFT_FAKE_CPU_SCORES", "1221.6,850.0")
    monkeypatch.setattr(hc, "_FAKE_SCORE_IDX", 0)
    hw = hc.HostWindow().start()
    cond = hw.stop()
    assert cond["cpu_score_start"] == 1221.6
    assert cond["cpu_score_end"] == 850.0
    assert hc.window_noisy(cond, steal_threshold_pct=100.0) == "cal_drift"


def test_source_mixture_composes_with_binpack(spark):
    """VERDICT r05 #1 compose claim: resample-then-pack yields packed
    batches whose per-bin source composition tracks the p_s^alpha target
    (ungrouped salted-scan packing interleaves sources, so every bin is a
    mixture draw)."""
    from audio_feature_extraction_spark.operators.binpack import with_bin_id
    from audio_feature_extraction_spark.operators.quality import (
        source_mixture_resample,
    )

    sizes = {"web": 8_000, "books": 2_000, "code": 500}
    rows = []
    for src, n in sizes.items():
        rows.extend(
            (f"{src}-doc{i:07d}", src, 20 + (i * 37) % 200)
            for i in range(n)
        )
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source", "n_tok"])
    )
    kept = source_mixture_resample(df, "doc_id", "source", 0.5)
    packed = with_bin_id(
        kept, payload_col="n_tok", order_cols=["doc_id"],
        target_payload_per_bin=20_000,
    )
    comp = (
        packed.groupBy("__bin_id", "source")
        .agg(F.sum("n_tok").alias("tok"))
        .toPandas()
    )
    t = {s: n ** 0.5 for s, n in sizes.items()}
    tot_t = sum(t.values())
    # corpus-wide: packed token share per source ~ target mixture
    per_src = comp.groupby("source")["tok"].sum()
    shares = per_src / per_src.sum()
    for s in sizes:
        assert abs(shares[s] - t[s] / tot_t) < 0.05, (s, shares[s])
    # per-bin: the dominant source's share never exceeds the corpus-wide
    # web share by much — bins are mixtures, not single-source runs
    bins = comp.pivot_table(
        index="__bin_id", columns="source", values="tok", fill_value=0
    )
    bin_shares = bins.div(bins.sum(axis=1), axis=0)
    # each bin holds ~50+ docs: its web share should sit near the target
    assert (bin_shares["web"] - shares["web"]).abs().mean() < 0.10


def test_bpe_encode_words_foreign_vocab(spark):
    """Encoding replays the learned merges on words never seen in
    training — the standard BPE inference rule — and matches the
    reference tokenizer's output."""
    from audio_feature_extraction_spark.operators.tokenize import (
        bpe_encode_words,
        bpe_learn,
    )

    train = ["low lower lowest low low newer newest new"]
    df = spark.createDataFrame(pd.DataFrame({"text": train}))
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_learn(df, "text", 6).collect()
    ]

    # reference encode (greedy-leftmost per merge, in learning order)
    def py_encode(word):
        s = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        return s

    foreign = ["lowly", "renew", "owlet", "zzz"]
    wc = spark.createDataFrame(
        pd.DataFrame({"word": foreign, "cnt": [1] * len(foreign)})
    )
    got = {
        r["word"]: r["toks"]
        for r in bpe_encode_words(wc, merges)
        .groupBy("word")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("p"))
        .select("word", F.transform("p", lambda x: x["s"]).alias("toks"))
        .collect()
    }
    for w in foreign:
        assert got[w] == py_encode(w), (w, got[w], py_encode(w))


def test_estimate_topk_cos_corpus_sampling_lower_bounds(spark):
    """The router's corpus-side hash-sample (VERDICT r05 observation):
    the kth-neighbor cosine on a 1/m subsample must LOWER-bound the
    full-corpus value (fewer candidates -> weaker kth neighbor), so the
    routing decision errs toward IVF — the safe direction."""
    import numpy as np
    from audio_feature_extraction_spark.operators.similarity import (
        estimate_topk_cos,
    )

    rng = np.random.default_rng(3)
    V = rng.normal(0, 1, (400, 16))
    pdf = pd.DataFrame(
        {"vec_id": range(400), "embedding": [list(map(float, v)) for v in V]}
    )
    df = spark.createDataFrame(pdf)
    q = df.where(F.col("vec_id") < 3)
    full = estimate_topk_cos(df, q, k=10)
    sampled = estimate_topk_cos(df, q, k=10, corpus_sample_buckets=4)
    assert sampled <= full + 1e-9
    assert sampled > 0 or full == 0.0


def test_pack_sequences_matches_pandas_reference(spark):
    """The concrete packed batch: flattened tokens + member start offsets
    equal an independent pandas packing at any parallelism."""
    from audio_feature_extraction_spark.operators.binpack import (
        pack_sequences,
    )

    rng = np.random.default_rng(5)
    rows = []
    for i in range(200):
        n = int(rng.integers(2, 30))
        rows.append(
            (f"d{i:04d}", i, f"s{i % 3}", n,
             [int(x) for x in rng.integers(0, 1000, n)])
        )
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "seq", "source", "n_tok", "tokens"]
    )
    df = spark.createDataFrame(pdf)
    out = pack_sequences(
        df, order_cols=["doc_id", "seq"], group_cols=["source"],
        target_payload_per_bin=100, out_bin="bin_id",
    ).toPandas().sort_values(["source", "bin_id"]).reset_index(drop=True)

    # independent reference: greedy prefix-scan pack per source
    want = {}
    for src, g in pdf.sort_values(["doc_id", "seq"]).groupby("source"):
        cum = 0
        for _, r in g.iterrows():
            cum += r["n_tok"]
            b = max(cum - 1, 0) // 100
            key = (src, b)
            toks, bounds, _ = want.setdefault(key, ([], [], None))
            bounds.append(len(toks))
            toks.extend(r["tokens"])
    assert len(out) == len(want)
    for _, r in out.iterrows():
        toks, bounds, _ = want[(r["source"], r["bin_id"])]
        assert list(r["tokens"]) == toks
        assert list(r["boundaries"]) == bounds
        assert r["n_docs"] == len(bounds)
        assert r["n_tok"] == len(toks)

    # parallelism invariance
    out13 = pack_sequences(
        df.repartition(13), order_cols=["doc_id", "seq"],
        group_cols=["source"], target_payload_per_bin=100, out_bin="bin_id",
    ).toPandas().sort_values(["source", "bin_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(out, out13)


def test_bpe_vocab_stats_early_stop_cross_engine_parity(spark):
    """When the vocabulary exhausts before n_merges, Spark breaks the
    learning loop while the oracle's remaining t{r} CTEs go empty (their
    scalar subqueries turn NULL, so s{r} = s{r-1}); both must land on the
    same merge table AND the same final vocabulary."""
    import duckdb
    from audio_feature_extraction_spark.operators.tokenize import bpe_learn
    from audio_feature_extraction_spark.queries.tokensq import (
        _sql_bpe_merges,
        _sql_bpe_vocab_stats,
    )

    docs = pd.DataFrame({"text": ["ab ab ab"]})
    con = duckdb.connect()
    con.register("documents", docs)
    dm = con.execute(_sql_bpe_merges()).fetchdf()
    dv = (
        con.execute(_sql_bpe_vocab_stats())
        .fetchdf()
        .sort_values("token")
        .reset_index(drop=True)
    )
    m, syms = bpe_learn(
        spark.createDataFrame(docs), "text", 8, with_symbols=True
    )
    sm = m.toPandas()
    sv = (
        syms.groupBy(F.col("s").alias("token"))
        .agg(
            F.count_distinct("word").alias("n_words"),
            F.sum("cnt").cast("long").alias("corpus_count"),
        )
        .toPandas()
        .sort_values("token")
        .reset_index(drop=True)
    )
    assert len(sm) == len(dm) == 1
    assert sm.iloc[0]["merged"] == dm.iloc[0]["merged"] == "ab"
    assert sv.equals(dv.astype(sv.dtypes.to_dict()))

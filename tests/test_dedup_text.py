"""Dedup + text operators vs single-process python oracles on the driver
testdata (documents @ sf0.001, which contains planted near-duplicates), and
the text-family queries (BM25, tf-idf, bigram LM) vs independent pandas /
Counter implementations on tiny synthetic corpora."""

import hashlib
import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators import dedup as D
from audio_feature_extraction_spark.operators import text as T
from tests.conftest import md5_60, write_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def docs_pdf(docs):
    return docs.toPandas()


def _shingle_set(text: str, n: int = 3) -> set:
    w = text.split(" ")
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _jaccard_pairs(pdf: pd.DataFrame, threshold: float, n: int = 3):
    sets = {r.doc_id: _shingle_set(r.text, n) for r in pdf.itertuples()}
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter == 0:
            continue
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j >= threshold:
            out.add((a, b))
    return out


def test_exact_dedup(spark, docs, docs_pdf):
    got = D.exact_dedup(docs, "doc_id").toPandas()
    keys = docs_pdf.text.map(lambda t: " ".join(sorted(set(t.split(" ")))))
    want = (
        pd.DataFrame({"k": keys, "doc_id": docs_pdf.doc_id})
        .groupby("k")
        .agg(survivor_id=("doc_id", "min"), n_dupes=("doc_id", "size"))
        .reset_index()
    )
    assert len(got) == len(want)
    g = got.sort_values("dedup_key").reset_index(drop=True)
    w = want.sort_values("k").reset_index(drop=True)
    assert (g.survivor_id.to_numpy() == w.survivor_id.to_numpy()).all()
    assert (g.n_dupes.to_numpy() == w.n_dupes.to_numpy()).all()


def test_ngram_jaccard_pairs(docs, docs_pdf):
    got = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).toPandas()
    want = _jaccard_pairs(docs_pdf, 0.8)
    assert set(zip(got.id_a, got.id_b)) == want
    assert len(want) > 0  # the testdata plants near-dups; don't pass vacuously


def test_ngram_df_cap_kills_stop_shingle_blowup(spark):
    """A stop-shingle shared by k docs produces k^2/2 candidate pairs when
    uncapped — the named 100 TB killer. With df_cap below k the hot shingle is
    dropped from the inverted index and the candidate set collapses."""
    k = 40
    rows = [
        (f"d{i:03d}", f"the quick brown u{i}a u{i}b u{i}c u{i}d") for i in range(k)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    # threshold=0 keeps EVERY candidate pair, making the blowup observable
    uncapped = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.0)
    assert uncapped.count() == k * (k - 1) // 2  # quadratic in the hot df
    capped = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.0, df_cap=8
    )
    assert capped.count() == 0  # hot shingle dropped -> no candidates at all


def test_minhash_lsh_matches_exact(docs, docs_pdf):
    got = D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8).toPandas()
    want = _jaccard_pairs(docs_pdf, 0.8)
    assert set(zip(got.id_a, got.id_b)) == want


def test_simhash_pairs_recall(docs, docs_pdf):
    """Banded candidates must equal brute-force hamming pairs (pigeonhole
    recall guarantee for max_hamming < bands)."""
    got = D.simhash_pairs(docs, "doc_id", "text", max_hamming=6).toPandas()
    sig = D.simhash(docs, "doc_id", "text").toPandas()
    sigs = dict(zip(sig.doc_id, sig.simhash))
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(int(sigs[a]) ^ int(sigs[b])).count("1") <= 6
    }
    assert set(zip(got.id_a, got.id_b)) == want
    # planted near-dups should be caught by simhash too
    assert len(want) > 0


def test_simhash_portable_hash(spark):
    """Spark signature bit recipe matches a pure-python md5 recomputation."""
    txt = "the fast key order sort"
    df = spark.createDataFrame([("d0", txt)], "doc_id string, text string")
    got = D.simhash(df, "doc_id", "text").collect()[0].simhash
    sums = np.zeros(D.SIMHASH_BITS)
    for w in txt.split(" "):
        h = md5_60(w)
        for i in range(D.SIMHASH_BITS):
            sums[i] += 1 if (h >> i) & 1 else -1
    want = sum(1 << i for i in range(D.SIMHASH_BITS) if sums[i] > 0)
    assert got == want


def test_token_counts_and_quality(docs, docs_pdf):
    got = docs.select(
        "doc_id",
        T.bpe_ish_token_count("text").alias("bc"),
        F.round(T.quality_score("text"), 6).alias("q"),
        T.lang_pick(T.lang_hits("text")).alias("lang_pred"),
        T.doc_fingerprint("text").alias("fp"),
    ).toPandas().sort_values("doc_id").reset_index(drop=True)
    pdf = docs_pdf.sort_values("doc_id").reset_index(drop=True)
    import re

    pat = re.compile(T.BPE_ISH_PATTERN)
    assert (got.bc.to_numpy() == pdf.text.map(lambda t: len(pat.findall(t))).to_numpy()).all()
    assert got.q.between(0.0, 1.0).all()
    # vocabulary is English-y; the marker heuristic must be deterministic
    assert set(got.lang_pred) <= set(list(T.LANG_MARKERS) + ["und"])
    assert (got.fp == pdf.text.map(lambda t: hashlib.md5(t.encode()).hexdigest())).all()


def test_first_per_window_boundaries(spark):
    """Windowed dedup: exact-us bucketing — a row AT the window boundary
    starts the next window; ties break on the tiebreak column."""
    from datetime import datetime

    from audio_feature_extraction_spark.operators.dedup import first_per_window

    rows = [
        (1, 7, datetime(2024, 1, 1, 0, 0, 0)),   # win 0 first
        (2, 7, datetime(2024, 1, 1, 0, 59, 59)),  # win 0 dup
        (3, 7, datetime(2024, 1, 1, 1, 0, 0)),   # win 1 first (exact boundary)
        (5, 7, datetime(2024, 1, 1, 1, 0, 0)),   # tie: higher event_id loses
        (4, 8, datetime(2024, 1, 1, 0, 30, 0)),  # other key, own window
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = first_per_window(
        df, keys=["user_id"], ts="ts", window_sec=3600.0, tiebreak=["event_id"]
    )
    got = {(r["user_id"], r["event_id"]) for r in out.collect()}
    assert got == {(7, 1), (7, 3), (8, 4)}


def test_lang_id_cjk_substring_and_und(spark):
    """zh markers must fire on space-free CJK text (substring counting);
    out-of-lexicon text returns 'und', not a default language."""
    df = spark.createDataFrame(
        [
            (1, "我是学生他在北京的家"),       # 是/在/的 → zh
            (2, "the cat and the dog"),       # en
            (3, "quantum flux capacitor"),    # zero hits anywhere → und
        ],
        "doc_id long, text string",
    )
    out = dict(
        df.select(
            "doc_id", T.lang_pick(T.lang_hits("text")).alias("l")
        ).collect()
    )
    assert out == {1: "zh", 2: "en", 3: "und"}


def test_connected_components_planted(spark):
    """Chain a-b-c plus pair d-e plus singleton f: connected components
    must find {a,b,c}, {d,e}, {f} regardless of edge orientation or
    partitioning."""
    from audio_feature_extraction_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 4)], "id_a long, id_b long"
    ).repartition(5)
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "id long"
    ).repartition(3)
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_connected_components_long_chain(spark):
    """A 12-node path needs multiple contraction rounds; the driver loop
    must iterate to the fixpoint, not stop after one round."""
    from audio_feature_extraction_spark.operators.graph import (
        connected_components,
    )

    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "id long")
    out = connected_components(edges, nodes).collect()
    assert all(r["cluster_id"] == 1 for r in out) and len(out) == n


def test_connected_components_no_edges(spark):
    from audio_feature_extraction_spark.operators.graph import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(empty, nodes).collect()
    assert {r["node"]: r["cluster_id"] for r in out} == {i: i for i in range(5)}


def test_star_cc_matches_label_propagation(spark):
    """large-star/small-star and min-label propagation must agree on random
    graphs (both = min reachable id). The propagation reference runs
    locally: every node takes the min label of itself and its neighbours
    until no label changes."""
    import random

    from audio_feature_extraction_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(7)
    n = 30
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(25)]
    lbl = list(range(n))
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(lbl[a], lbl[b])
            if lbl[a] != m or lbl[b] != m:
                lbl[a] = lbl[b] = m
                changed = True
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {r["node"]: r["cluster_id"] for r in connected_components(e, nodes).collect()}
    assert got == dict(enumerate(lbl))


def _persistent_rdds_above(sc, floor: int) -> list[int]:
    """Ids of the persistent RDDs registered after RDD id ``floor``. Ids,
    not the persistent count: the ContextCleaner may free RDDs of earlier
    plans meanwhile."""
    return [i for i in sc._jsc.getPersistentRDDs().keys() if i > floor]


def test_star_cc_long_chain(spark):
    """A 64-node path: star contraction must reach the fixpoint well inside
    the O(log n) budget (one round per hop would need 63 rounds), keeping
    only its final round's checkpoint."""
    from audio_feature_extraction_spark.operators.graph import (
        connected_components,
    )

    n = 64
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "id long")
    floor = spark.sparkContext.emptyRDD()._jrdd.id()
    out = connected_components(e, nodes, max_iter=14).collect()
    assert len(out) == n and all(r["cluster_id"] == 1 for r in out)
    # every round but the last was released, and the last stayed readable
    assert len(_persistent_rdds_above(spark.sparkContext, floor)) == 1


def test_cc_out_of_universe_edges_ignored_consistently(spark):
    """Edges incident to ids absent from `nodes` are ignored — no relaying
    through, or labels landing on, out-of-universe ids (review finding
    r03)."""
    from audio_feature_extraction_spark.operators.graph import (
        connected_components,
    )

    # x=99 outside the universe bridges 1-99-2: CC must NOT merge them
    edges = spark.createDataFrame(
        [(1, 99), (99, 2), (3, 4)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {1: 1, 2: 2, 3: 3, 4: 3}


def test_cc_raises_when_not_converged(spark):
    """Exhausting max_iter must raise, never return silently-partial
    labels."""
    import pytest

    from audio_feature_extraction_spark.operators.graph import (
        connected_components,
    )

    n = 6
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, nodes, max_iter=1)


@pytest.mark.parametrize("qname", ["dedup_clusters", "emb_dedup_clusters"])
def test_cc_keeps_only_its_final_checkpoint(spark, qname):
    """Each star round's localCheckpoint is released once the next one is
    materialized: after building and collecting, only the returned plan's
    own checkpoint is still persistent."""
    import __spark_entry__ as em

    sc = spark.sparkContext
    floor = sc.emptyRDD()._jrdd.id()
    assert em.queries()[qname](spark, SF_DIR).collect()
    assert len(_persistent_rdds_above(sc, floor)) == 1


# Build jobs at sf0.001. dedup_clusters: 1 schema read, 9 for the
# in-universe pair checkpoint, then 4 per star round (2 rounds here); CC
# rounds are data-dependent, so this bound holds for this data only.
# ann_auto_topk: the schema read only, since IVF routing is static.
BUILD_JOB_BUDGETS = [
    pytest.param("dedup_clusters", 18, id="dedup_clusters"),
    pytest.param("ann_auto_topk", 1, id="ann_auto_topk"),
]


@pytest.mark.parametrize("qname, budget", BUILD_JOB_BUDGETS)
def test_dedup_clusters_build_job_budget(spark, qname, budget):
    """Each star round is one checkpoint whose convergence fingerprint is
    observed in that same job: a separate fingerprint aggregate, or a
    checkpoint per phase, pushes the builder over its budget. The ANN
    builder runs no exact scorer or other eager job at build time."""
    import __spark_entry__ as em

    sc = spark.sparkContext
    group = f"{qname}-builder"
    sc.setJobGroup(group, f"{qname} build-job budget")
    try:
        em.queries()[qname](spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= budget, n_jobs


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
    write_table(spark, tmp_path, "documents", pdf)
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
    write_table(spark, tmp_path, "documents", pdf)
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
    write_table(spark, tmp_path, "documents", docs)
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

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators import multimodal as M
from audio_feature_extraction_spark.operators import similarity as S
from tests.conftest import md5_60

SF_DIR = "/root/testdata/sf0.001"
# the synthetic 16-cell quantizer of the registry's ann_ivf_topk
CELLS_16 = S._centroid_literals(16, 64, 11)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_pdf(emb):
    return emb.toPandas()


def _numpy_topk(pdf, query_ids, k):
    mat = np.stack(pdf.embedding.map(np.asarray).to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for qi in query_ids:
        qrow = normed[ids == qi][0]
        sims = normed @ qrow
        order = sorted(zip(-sims, ids), key=lambda t: (t[0], t[1]))
        out[qi] = [int(i) for d, i in order if i != qi][:k]
    return out


def test_brute_force_topk(emb, emb_pdf):
    queries = emb.where(F.col("vec_id") < 5)
    got = S.brute_force_topk(emb, queries, k=10).toPandas()
    want = _numpy_topk(emb_pdf, range(5), 10)
    for qi, grp in got.groupby("query_id"):
        ordered = grp.sort_values("rank").neighbor_id.tolist()
        assert ordered == want[qi], qi
    assert got.cos.between(-1.0, 1.0).all()


def test_brute_force_topk_excludes_self(emb):
    queries = emb.where(F.col("vec_id") < 5)
    out = S.brute_force_topk(emb, queries, k=10).toPandas()
    assert not (out.query_id == out.neighbor_id).any()
    assert (out.groupby("query_id").size() == 10).all()


def test_lsh_topk_internal_consistency(emb, emb_pdf):
    """On uniformly-random embeddings LSH recall is data-limited; the
    contract that must always hold: within the candidate set it returns, the
    ranking equals the exact cosine ordering."""
    queries = emb.where(F.col("vec_id") < 5)
    got = S.lsh_bucketed_topk(emb, queries, k=10).toPandas()
    assert set(got.columns) == {"query_id", "neighbor_id", "rank", "cos"}
    mat = np.stack(emb_pdf.embedding.map(np.asarray).to_numpy()).astype(np.float64)
    ids = emb_pdf.vec_id.to_numpy()
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for qi, grp in got.groupby("query_id"):
        qrow = normed[ids == qi][0]
        grp = grp.sort_values("rank")
        sims = [float(normed[ids == n][0] @ qrow) for n in grp.neighbor_id]
        resorted = sorted(
            zip(sims, grp.neighbor_id), key=lambda t: (-round(t[0], 6), t[1])
        )
        assert [n for _, n in resorted] == grp.neighbor_id.tolist()


def test_lsh_topk_finds_planted_neighbors(spark):
    """Near-identical vectors land in the same (or hamming-1) bucket and must
    be returned at rank 1 — the regime LSH exists for."""
    rng = np.random.default_rng(123)
    base = rng.normal(0, 1, (5, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v], 0))
        near = v + rng.normal(0, 0.01, 64)  # cos ≈ 0.99995
        rows.append((100 + i, [float(x) for x in near], 0))
    for j in range(300):  # background noise vectors
        rows.append((1000 + j, [float(x) for x in rng.normal(0, 1, 64)], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    queries = df.where(F.col("vec_id") < 5)
    got = S.lsh_bucketed_topk(df, queries, k=3).toPandas()
    for qi in range(5):
        g1 = got[(got.query_id == qi) & (got["rank"] == 1)]
        assert len(g1) == 1 and int(g1.neighbor_id.iloc[0]) == 100 + qi


def test_ivf_topk_finds_planted_neighbors(spark):
    """A near-identical pair lands in the same IVF cell (same argmin
    centroid) and must come back at rank 1."""
    rng = np.random.default_rng(321)
    base = rng.normal(0, 1, (5, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        near = v + rng.normal(0, 0.005, 64)
        rows.append((100 + i, [float(x) for x in near]))
    for j in range(300):
        rows.append((1000 + j, [float(x) for x in rng.normal(0, 1, 64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where(F.col("vec_id") < 5)
    got = S.ivf_topk(df, queries, CELLS_16, k=3).toPandas()
    for qi in range(5):
        g1 = got[(got.query_id == qi) & (got["rank"] == 1)]
        assert len(g1) == 1 and int(g1.neighbor_id.iloc[0]) == 100 + qi


def test_ivf_cells_partition_corpus(emb):
    """Every vector gets exactly one cell in [0, n_cells); probing all cells
    degrades IVF to exact brute force — top-1 must then match brute force."""
    cells = S.with_ivf_cell(
        emb.select("vec_id", "embedding"), "embedding", CELLS_16
    ).toPandas()
    assert cells.cell.between(0, 15).all()
    assert len(cells) == cells.vec_id.nunique()

    queries = emb.where(F.col("vec_id") < 3)
    exact = S.brute_force_topk(emb, queries, k=1).toPandas()
    full_probe = S.ivf_topk(emb, queries, CELLS_16, k=1, nprobe=16).toPandas()
    e = exact.sort_values("query_id").neighbor_id.tolist()
    f = full_probe.sort_values("query_id").neighbor_id.tolist()
    assert e == f


def test_media_decode_plumbing(spark):
    rows = [(f"d{i}", bytes([i] * (i + 1))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = M.extract_media_features(df).toPandas()
    assert len(got) == 20
    feats = np.stack(got.media_features.map(np.asarray).to_numpy())
    assert feats.shape == (20, M.FEATURE_DIM)
    assert feats.dtype == np.float64  # SQL-reproducible md5-derived doubles
    assert ((feats >= 0.0) & (feats < 1.0)).all()

    # deterministic + partition-invariant
    got2 = M.extract_media_features(df.repartition(7)).toPandas()
    a = got.sort_values("doc_id").reset_index(drop=True)
    b = got2.sort_values("doc_id").reset_index(drop=True)
    for x, y in zip(a.media_features, b.media_features):
        assert np.array_equal(np.asarray(x), np.asarray(y))


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([("d0", 25), ("d1", 1)], "doc_id string, n_frames int")
    got = M.frame_sample_plan(df, every=10).toPandas()
    d0 = got[got.doc_id == "d0"].frame_idx.tolist()
    assert d0 == [0, 10, 20]
    assert got[got.doc_id == "d1"].frame_idx.tolist() == [0]


def test_arrow_topk_survives_zero_vector(spark):
    """A zero-norm corpus vector yields NaN cosines; the batch threshold
    must mask them instead of dropping every candidate (NaN poisons
    np.partition)."""
    rows = [(i, [float(i + 1), 1.0]) for i in range(6)] + [(6, [0.0, 0.0])]
    emb6 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb6.where(F.col("vec_id") == 0)
    out = S.brute_force_topk(emb6.coalesce(1), q, k=5).toPandas()
    assert len(out) == 5
    assert 6 not in set(out.neighbor_id)  # the zero vector never ranks
    assert out.cos.notna().all()


def test_frame_sample_zero_frames_yields_no_rows(spark):
    from audio_feature_extraction_spark.operators.multimodal import (
        frame_sample_plan,
    )

    df = spark.createDataFrame(
        [(1, 25), (2, 0), (3, None)], "doc_id long, n_frames int"
    )
    out = frame_sample_plan(df, "doc_id", "n_frames", every=10).toPandas()
    assert set(out.doc_id) == {1}
    assert sorted(out.frame_idx) == [0, 10, 20]


def test_topk_rank_partitioning_invariant(emb):
    """Ranking is round(cos,6)+id on EVERY topk path, so the output must be
    identical under different partitionings (a rounding-boundary tie under
    exact-double ordering would be summation-order / plan dependent)."""
    queries = emb.where(F.col("vec_id") < 3)

    def ivf_topk(corpus, queries, k):
        return S.ivf_topk(corpus, queries, CELLS_16, k=k)

    for fn in (ivf_topk, S.lsh_bucketed_topk, S.brute_force_topk):
        a = (
            fn(emb.repartition(1), queries, k=10)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        b = (
            fn(emb.repartition(7), queries, k=10)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert a.neighbor_id.tolist() == b.neighbor_id.tolist(), fn.__name__
        assert a.cos.tolist() == b.cos.tolist(), fn.__name__


def test_arrow_topk_driver_collect_guard(emb):
    """The 'small by contract' query side is enforced: a fat query set must
    fail fast with the remedy named, not OOM the driver."""
    with pytest.raises(ValueError, match="Split the query set"):
        S.collect_guarded(emb, "query", 10)


def test_lsh_recall_monotone_in_tables(emb):
    """OR-amplification soundness: the candidate set of n_tables=4 is a
    superset of n_tables=1 (same base seed), and approximate top-k hits
    vs ground truth can only be displaced by other ground-truth members —
    so per-corpus total recall must be non-decreasing in n_tables."""
    queries = emb.where(F.col("vec_id") < 10)
    gt = S.brute_force_topk(emb, queries, k=10).select("query_id", "neighbor_id")

    def hits(n_tables):
        r = S.lsh_bucketed_topk(emb, queries, k=10, n_tables=n_tables).select(
            "query_id", "neighbor_id"
        )
        return r.join(gt, ["query_id", "neighbor_id"], "left_semi").count()

    h1, h4 = hits(1), hits(4)
    assert h4 >= h1, (h1, h4)
    assert h4 > 0


# ------------------------------------------------------------- fitted IVF

def _gaussian_frame(spark, seed, n, dim):
    X = np.random.default_rng(seed).normal(0, 1, (n, dim))
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [x.tolist() for x in X]})
    return X, spark.createDataFrame(pdf)


def _sse(X, cents):
    C = np.array(cents)
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    return float(d.min(1).mean())


def test_fit_ivf_centroids_partitioning_invariant(spark):
    """The 6dp rounding contract: fitted centroids must be identical
    whatever the input partitioning (summation-order noise absorbed)."""
    _, df = _gaussian_frame(spark, 31, 300, 16)
    c1 = S.fit_ivf_centroids(df.repartition(1), n_cells=4, rounds=2)
    c2 = S.fit_ivf_centroids(df.repartition(13), n_cells=4, rounds=2)
    assert c1 == c2


def test_fit_ivf_centroids_reduces_quantization_error(spark):
    """Lloyd rounds must not make the coarse quantizer worse: mean squared
    distance to the assigned centroid after fitting < at the data-point
    init the fit starts from."""
    X, df = _gaussian_frame(spark, 37, 500, 16)
    fitted = S.fit_ivf_centroids(df, n_cells=4, rounds=3)
    before = _sse(X, S.data_init_centroids(df, 4))
    after = _sse(X, fitted)
    assert after < before, (before, after)


def test_fit_ivf_empty_cells_keep_previous_centroid(spark):
    """A cell that ends a round empty keeps its centroid (no NaNs, no
    drops). Planted: the two lowest-hash ids, i.e. data init's cells 0 and
    1, carry the same vector; argmin ties go to the lowest cell, so cell 1
    gets no vectors while cell 0 takes its near neighbours and moves."""
    ids = sorted(range(10), key=lambda i: md5_60(str(i)))
    vecs = [
        [1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [-1.0, 0.0],  # the 4 init cells
        [1.0, 0.3], [0.2, 1.0], [-1.0, 0.2], [0.9, -0.2], [0.0, 0.8],
        [-0.8, -0.1],
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": vecs})
    )
    init = S.data_init_centroids(df, 4)
    assert init[0] == init[1] == [1.0, 0.0]
    fitted = S.fit_ivf_centroids(df, n_cells=4, rounds=1)
    assert len(fitted) == 4
    assert fitted[1] == init[1]  # empty in the round: kept
    assert fitted[0] != init[0]  # populated: moved to its members' mean
    assert all(all(np.isfinite(x) for x in c) for c in fitted)


def test_fit_ivf_on_hash_sample_still_improves(spark):
    """The 100 TB fitting contract (pass a hash-sampled frame): centroids
    fitted on a deterministic ~50% md5 sample must still beat the
    sample's data-point init on the FULL corpus' quantization error."""
    from audio_feature_extraction_spark.operators.quality import hash_bucket

    X, df = _gaussian_frame(spark, 53, 600, 16)
    sample = df.where(hash_bucket(F.col("vec_id"), 100) < 50)
    n_sample = sample.count()
    assert 200 < n_sample < 400  # the md5 split is roughly half
    fitted = S.fit_ivf_centroids(sample, n_cells=4, rounds=3)
    assert _sse(X, fitted) < _sse(X, S.data_init_centroids(sample, 4))


import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.binpack import (
    BIN_COL,
    epoch_order_key,
    pack_sequences,
    with_bin_id,
)

TARGET = 2000  # tokens per bin — small so the tiny table makes many bins


def test_bin_payload_bound(tiny_df):
    seq, _ = tiny_df
    binned = with_bin_id(seq, ["source"], target_payload_per_bin=TARGET)
    per_bin = (
        binned.groupBy("source", BIN_COL)
        .agg(F.sum("n_tok").alias("payload"), F.count(F.lit(1)).alias("rows"))
        .toPandas()
    )
    max_row = seq.agg(F.max("n_tok")).collect()[0][0]
    # greedy prefix packing: no bin exceeds target by more than one row
    assert (per_bin.payload <= TARGET + max_row).all()
    assert len(per_bin) > seq.select("source").distinct().count()


def test_rows_preserved_and_deterministic(spark, tiny_df, tiny_pdf):
    seq, _ = tiny_df
    seq_pdf, _ = tiny_pdf

    # bin ids are a pure function of (group, order, payload): invariant to
    # input partitioning
    def bins(df):
        return (
            with_bin_id(df, ["source"], target_payload_per_bin=TARGET)
            .select("doc_id", "seq", "n_tok", BIN_COL)
            .toPandas()
            .sort_values(["doc_id", "seq"])
            .reset_index(drop=True)
        )

    b1, b2 = bins(seq.repartition(3)), bins(seq.repartition(11))
    want = seq_pdf.sort_values(["doc_id", "seq"]).reset_index(drop=True)
    assert len(b1) == len(want)
    assert (b1.doc_id.to_numpy() == want.doc_id.to_numpy()).all()
    assert (b1.n_tok.to_numpy() == want.n_tok.to_numpy()).all()
    assert (b1[BIN_COL].to_numpy() == b2[BIN_COL].to_numpy()).all()


def test_binpack_leading_zero_and_null_payload(spark):
    """Leading zero-payload rows land in bin 0 (not a stray bin -1), and a
    NULL payload counts as 0 instead of poisoning the running sum."""
    df = spark.createDataFrame(
        [("d0", 0, 0), ("d1", 1, None), ("d2", 2, 5), ("d3", 3, 5)],
        "doc_id string, seq int, n_tok int",
    )
    out = with_bin_id(
        df, ["doc_id"], payload_col="n_tok", order_cols=["doc_id", "seq"],
        target_payload_per_bin=4, out="bin_id",
    ).toPandas()
    assert (out.bin_id >= 0).all()
    assert out.bin_id.notna().all()


def test_pack_sequences_matches_pandas_reference(spark):
    """The concrete packed batch: flattened tokens + member start offsets
    equal an independent pandas packing at any parallelism."""
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
        df, ["source"], order_cols=["doc_id", "seq"],
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
        df.repartition(13), ["source"], order_cols=["doc_id", "seq"],
        target_payload_per_bin=100, out_bin="bin_id",
    ).toPandas().sort_values(["source", "bin_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(out, out13)


def test_epoch_order_key_is_seeded_permutation(spark):
    """Ordering batches by the seeded key gives a permutation of the same
    batches, a different one per seed, and the same one at any input
    partitioning."""
    batches = spark.createDataFrame(
        pd.DataFrame(
            {"source": [f"s{i % 4}" for i in range(64)],
             "bin_id": [i // 4 for i in range(64)]}
        )
    )

    def order(df, seed):
        return [
            (r["source"], r["bin_id"])
            for r in df.withColumn(
                "k", epoch_order_key(seed, "source", "bin_id")
            ).orderBy("k", "source", "bin_id").collect()
        ]

    o41, o42 = order(batches, 41), order(batches, 42)
    # permutations of the same multiset, different order per seed
    assert sorted(o41) == sorted(o42)
    assert o41 != o42
    assert order(batches.repartition(13), 41) == o41

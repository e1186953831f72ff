"""North-rule correctness gate: flagship pipeline vs numpy oracle.

- feature_vector np.allclose per (entity × timestamp)
- tokens bit-identical int32 per row
- zero temporal leakage (future-row corruption probe)
- partitioning invariance (2 vs 16 shuffle partitions)
"""

import numpy as np
import pandas as pd
import pytest

from audio_feature_extraction_spark import datagen as dg
from audio_feature_extraction_spark.oracle import oracle_features
from audio_feature_extraction_spark.plans.pipeline import feature_pipeline
from tests.conftest import assert_feature_match, sort_kv


@pytest.fixture(scope="module")
def gold(tiny_pdf):
    seq_pdf, ref_pdf = tiny_pdf
    return sort_kv(oracle_features(seq_pdf, ref_pdf))


def test_pipeline_matches_oracle(spark, tiny_df, gold):
    seq_df, ref_df = tiny_df
    out = sort_kv(feature_pipeline(seq_df, ref_df).toPandas())
    assert_feature_match(out, gold)


def test_tokens_schema_is_int32(tiny_df):
    seq_df, ref_df = tiny_df
    out = feature_pipeline(seq_df, ref_df)
    assert out.schema["tokens"].dataType.simpleString() == "array<int>"


def test_zero_temporal_leakage(spark, tiny_pdf, gold):
    """Corrupt every row with ts > t0; features at ts <= t0 must be unchanged."""
    seq_pdf, ref_pdf = tiny_pdf
    t0 = seq_pdf.ts.quantile(0.5)
    corrupted = seq_pdf.copy()
    fut = corrupted.ts > t0
    assert fut.any() and (~fut).any()
    corrupted.loc[fut, "value"] = 1e9
    corrupted.loc[fut, "n_tok"] = np.int32(1)

    ref_c = ref_pdf.copy()
    rfut = ref_c.ts > t0
    ref_c.loc[rfut, "ref_vec"] = ref_c.loc[rfut, "ref_vec"].map(
        lambda v: np.asarray(v) * 0 + 1e9
    )

    base = feature_pipeline(
        spark.createDataFrame(seq_pdf, schema=dg.SEQ_SCHEMA),
        spark.createDataFrame(ref_pdf, schema=dg.REF_SCHEMA),
    ).toPandas()
    pert = feature_pipeline(
        spark.createDataFrame(corrupted, schema=dg.SEQ_SCHEMA),
        spark.createDataFrame(ref_c, schema=dg.REF_SCHEMA),
    ).toPandas()

    base = sort_kv(base[base.ts <= t0])
    pert = sort_kv(pert[pert.ts <= t0])
    assert len(base) == len(pert) and len(base) > 0
    fb = np.stack(base.feature_vector.to_numpy())
    fp = np.stack(pert.feature_vector.to_numpy())
    assert np.array_equal(fb, fp), "temporal leakage: past features changed"


def test_partitioning_invariance(spark, tiny_pdf, gold):
    seq_pdf, ref_pdf = tiny_pdf
    for nparts in (2, 16):
        seq_df = spark.createDataFrame(seq_pdf, schema=dg.SEQ_SCHEMA).repartition(nparts)
        ref_df = spark.createDataFrame(ref_pdf, schema=dg.REF_SCHEMA).repartition(nparts)
        out = sort_kv(feature_pipeline(seq_df, ref_df).toPandas())
        assert_feature_match(out, gold)

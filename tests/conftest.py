import numpy as np
import pandas as pd
import pytest

from audio_feature_extraction_spark import datagen as dg
from audio_feature_extraction_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="afe-tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_pdf():
    return dg.gen_sequences_pdf(dg.TINY), dg.gen_reference_pdf(dg.TINY)


@pytest.fixture(scope="session")
def tiny_df(spark, tiny_pdf):
    seq_pdf, ref_pdf = tiny_pdf
    return (
        spark.createDataFrame(seq_pdf, schema=dg.SEQ_SCHEMA),
        spark.createDataFrame(ref_pdf, schema=dg.REF_SCHEMA),
    )


def sort_kv(pdf: pd.DataFrame, keys=("doc_id", "seq")) -> pd.DataFrame:
    return pdf.sort_values(list(keys), kind="mergesort").reset_index(drop=True)


def assert_feature_match(eng: pd.DataFrame, gold: pd.DataFrame):
    """North-rule gate: allclose per entity×timestamp + bit-identical tokens."""
    assert len(eng) == len(gold)
    fe = np.stack(eng.feature_vector.to_numpy())
    fg = np.stack(gold.feature_vector.to_numpy())
    assert np.allclose(fe, fg, rtol=1e-9, atol=1e-12), np.argwhere(
        ~np.isclose(fe, fg, rtol=1e-9, atol=1e-12)
    )[:5]
    for x, y in zip(eng.tokens, gold.tokens):
        xa = np.asarray(x)
        assert xa.dtype in (np.dtype("int32"), np.dtype("int64"))
        assert np.array_equal(xa.astype(np.int64), np.asarray(y).astype(np.int64))
    assert (eng.session_id.to_numpy() == gold.session_id.to_numpy()).all()


def write_table(spark, tmp_path, name: str, pdf: pd.DataFrame) -> str:
    """Write ``pdf`` as ``<tmp_path>/<name>.parquet`` and return the
    directory — a one-table stand-in for a testdata scale-factor dir that
    the query builders read."""
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / f"{name}.parquet")
    )
    return str(tmp_path)


def md5_60(s: str) -> int:
    """Independent copy of the engine's portable 60-bit hash (hashlib,
    not Spark): int64 of the first 15 hex chars of md5."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

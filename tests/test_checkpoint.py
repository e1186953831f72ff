import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.sources.checkpoint import CheckpointTable


@pytest.fixture()
def ckpt(tmp_path):
    return CheckpointTable(str(tmp_path / "tbl"))


def _docs(tiny_df):
    seq, _ = tiny_df
    return seq.select("doc_id", "seq", "n_tok", "ts")


def test_snapshot_commit_and_read(spark, tiny_df, ckpt):
    df = _docs(tiny_df)
    first = df.where(F.col("doc_id") < "doc00000020")
    second = df.where(F.col("doc_id") >= "doc00000020")
    s0 = ckpt.write_snapshot(first, key_cols=["doc_id", "seq"], payload_col="n_tok",
                             watermark_col="ts")
    s1 = ckpt.write_snapshot(second, key_cols=["doc_id", "seq"], payload_col="n_tok",
                             watermark_col="ts")
    assert (s0, s1) == (0, 1)
    assert ckpt.committed_snapshots() == [0, 1]
    back = ckpt.read(spark)
    assert back.count() == df.count()
    m = ckpt.read_manifest(spark).toPandas()
    assert (m.rows > 0).all()
    assert m.payload.sum() == df.agg(F.sum("n_tok")).collect()[0][0]
    assert m.watermark_ts.notna().all()
    assert ckpt.verify(spark, key_cols=["doc_id", "seq"]).count() == 0


def test_uncommitted_invisible_and_aborted(spark, tiny_df, ckpt):
    df = _docs(tiny_df)
    ckpt.write_snapshot(df.limit(10), key_cols=["doc_id", "seq"])
    # simulate a crash: data written, manifest never committed
    crash_path = os.path.join(ckpt.data_dir, "snapshot_id=1")
    df.limit(5).write.parquet(crash_path)
    assert ckpt.committed_snapshots() == [0]
    assert ckpt.read(spark).count() == 10  # partial data invisible
    assert ckpt.next_snapshot_id() == 2  # no id collision with the partial dir
    assert ckpt.abort_uncommitted() == [1]
    assert not os.path.exists(crash_path)


def test_resume_is_byte_identical(spark, tiny_df, ckpt, tmp_path):
    """Kill after snapshot 0, resume, final table == single-shot run."""
    df = _docs(tiny_df)
    half = df.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)

    ckpt.write_snapshot(half, key_cols=["doc_id", "seq"], payload_col="n_tok")
    rest = ckpt.remaining(df, key_cols=["doc_id", "seq"])
    assert rest.count() == df.count() - half.count()
    ckpt.write_snapshot(rest, key_cols=["doc_id", "seq"], payload_col="n_tok")

    resumed = ckpt.read(spark).select("doc_id", "seq", "n_tok").toPandas()
    single = CheckpointTable(str(tmp_path / "single"))
    single.write_snapshot(df, key_cols=["doc_id", "seq"], payload_col="n_tok")
    oneshot = single.read(spark).select("doc_id", "seq", "n_tok").toPandas()

    a = resumed.sort_values(["doc_id", "seq"]).reset_index(drop=True)
    b = oneshot.sort_values(["doc_id", "seq"]).reset_index(drop=True)
    assert a.equals(b)

    # resume on a complete table is a no-op
    assert ckpt.remaining(df, key_cols=["doc_id", "seq"]).count() == 0


def test_time_travel_read(spark, tiny_df, tmp_path):
    """VERSION AS OF analog: as_of_snapshot reads the table exactly as it
    stood after that snapshot committed; later snapshots are invisible."""
    import pytest

    tbl = CheckpointTable(str(tmp_path / "tt"))
    df = _docs(tiny_df)
    a = df.where(F.col("doc_id") < "doc00000020")
    b = df.where(F.col("doc_id") >= "doc00000020")
    tbl.write_snapshot(a, key_cols=["doc_id", "seq"])
    tbl.write_snapshot(b, key_cols=["doc_id", "seq"])
    assert tbl.read(spark, as_of_snapshot=0).count() == a.count()
    assert tbl.read(spark, as_of_snapshot=1).count() == df.count()
    assert tbl.read(spark).count() == df.count()
    m0 = tbl.read_manifest(spark, as_of_snapshot=0)
    assert m0.select("snapshot_id").distinct().collect() == [(0,)]
    with pytest.raises(FileNotFoundError):
        tbl.read(spark, as_of_snapshot=-1)


def test_remaining_watermark_prune_skips_old_snapshots(spark, tmp_path):
    """remaining(input_min_ts=...) must anti-join against ONLY the
    snapshots whose manifest watermark reaches the input's time range —
    proven by a key that lives in an old (pruned) snapshot surviving the
    resume filter, while keys in kept snapshots still dedupe."""
    from audio_feature_extraction_spark.sources.checkpoint import (
        CheckpointTable,
    )

    t = CheckpointTable(str(tmp_path / "wm_tbl"))

    def day(d, keys):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "k": keys,
                    "ts": pd.Timestamp(f"2024-01-{d:02d} 12:00:00"),
                    "v": 1.0,
                }
            )
        )

    t.write_snapshot(day(1, ["a", "b"]), ["k"], watermark_col="ts")
    t.write_snapshot(day(10, ["c", "d"]), ["k"], watermark_col="ts")

    inp = day(11, ["a", "c", "e"])  # a: only in the day-1 snapshot

    # no prune hint: fully correct — both a and c dedupe
    full = sorted(t.remaining(inp, ["k"]).toPandas().k)
    assert full == ["e"]

    # prune at 2024-01-05: the day-1 snapshot (watermark 01-01) is
    # skipped entirely, so 'a' survives — evidence the old files were
    # never consulted; 'c' (kept snapshot) still dedupes
    pruned = sorted(
        t.remaining(inp, ["k"], input_min_ts="2024-01-05")
        .toPandas().k
    )
    assert pruned == ["a", "e"]

    # prune threshold below every watermark: identical to the full path
    all_kept = sorted(
        t.remaining(inp, ["k"], input_min_ts="2023-12-01")
        .toPandas().k
    )
    assert all_kept == ["e"]

    # threshold above every watermark: nothing to join, input unchanged
    none_kept = sorted(
        t.remaining(inp, ["k"], input_min_ts="2025-01-01")
        .toPandas().k
    )
    assert none_kept == ["a", "c", "e"]


def test_remaining_watermark_accepts_T_separated_iso(spark, tmp_path):
    """ADVICE r04: stored watermarks are space-separated (Spark's timestamp
    cast); a 'T'-separated input_min_ts must compare by TIME, not by
    separator byte ('T' > ' ' would wrongly prune a same-day snapshot whose
    watermark time-of-day is later than the input's)."""
    from audio_feature_extraction_spark.sources.checkpoint import (
        CheckpointTable,
    )

    t = CheckpointTable(str(tmp_path / "wmT_tbl"))
    t.write_snapshot(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "k": ["a", "b"],
                    "ts": pd.Timestamp("2024-01-01 12:00:00"),
                    "v": 1.0,
                }
            )
        ),
        ["k"], watermark_col="ts",
    )
    inp = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "e"],
                "ts": pd.Timestamp("2024-01-01 06:30:00"),
                "v": 1.0,
            }
        )
    )
    # wm 12:00 >= input 06:00 -> the snapshot MUST be consulted; the raw
    # byte compare ('2024-01-01 12..' < '2024-01-01T06..') would skip it
    # and let the committed key 'a' back into the resume set
    got = sorted(
        t.remaining(inp, ["k"], input_min_ts="2024-01-01T06:00:00")
        .toPandas().k
    )
    assert got == ["e"]
    # space-separated form: identical behavior
    got2 = sorted(
        t.remaining(inp, ["k"], input_min_ts="2024-01-01 06:00:00")
        .toPandas().k
    )
    assert got2 == ["e"]

"""Multimodal columns: opaque binary payloads + Arrow-batched decode/feature
plumbing.

Media (image/audio/video) are ``binary`` columns. Decoding and feature
extraction run as ``mapInPandas`` kernels — Arrow batches in, Arrow batches
out, never per-row Python. No media codec (PIL/librosa/ffmpeg) is installed,
so the decode step is a deterministic fake decoder (bytes → seeded feature
vector) that exercises the full distributed path — schema, batching,
partitioning, dtype discipline are all real and tested
(tests/test_similarity_multimodal.py).

Reference analog: the audio load + feature chain
(`04_feature_extraction_experiment/feature_extractor.py:62-131` format
dispatch; `audio_feature_extraction_toolkit/core/feature_extractor.py:41-56`
decode) — there it is a per-file Python loop; here it is one scan + one
Arrow-vectorized stage.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StructField,
    StructType,
)

FEATURE_DIM = 16


def _fake_decode(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a codec: feature i is a pure arithmetic
    function of md5(payload || '|' || i) — partition-invariant AND expressible
    in ANSI SQL, so the DuckDB oracle reproduces it bit-for-bit:
    ``('0x' || substr(md5(text || '|' || i), 1, 12))::BIGINT / 2^48``."""
    return np.array(
        [
            int(
                hashlib.md5(payload + b"|" + str(i).encode()).hexdigest()[:12], 16
            )
            / float(1 << 48)
            for i in range(dim)
        ],
        dtype=np.float64,
    )


def extract_media_features(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "payload",
) -> DataFrame:
    """Decode + featurize each media payload: (id, media_features
    array<float>[FEATURE_DIM]). One mapInPandas stage; the binary column is
    projected to exactly (id, payload) before the Python boundary so Arrow
    ships no dead columns. Arrow batch size (and therefore per-batch decode
    memory) is governed by the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch``, set in
    ``session.get_spark`` — there is no reliable per-stage override."""
    src = df.select(F.col(id_col), F.col(binary_col))
    out_schema = StructType(
        [
            src.schema[id_col],
            StructField("media_features", ArrayType(DoubleType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            feats = [_fake_decode(bytes(p)) for p in b[binary_col]]
            yield pd.DataFrame({id_col: b[id_col], "media_features": feats})

    return src.mapInPandas(kernel, schema=out_schema)


def frame_sample_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    n_frames_col: str = "n_frames",
    every: int = 10,
) -> DataFrame:
    """Frame-sampling as a pure plan op: one row per sampled frame index
    (video keyframe analog) — posexplode of a sequence, no Python.

    Zero-frame (or NULL-frame-count) docs yield NO rows: the guard must be
    a ``when``, not ``greatest(n-1, 0)`` — clamping would emit a frame_idx 0
    that does not exist (and greatest() skips NULLs, so NULL n_frames would
    clamp to 0 too)."""
    idx = F.when(
        F.col(n_frames_col) > 0,
        F.sequence(F.lit(0), F.col(n_frames_col) - 1, F.lit(every)),
    )
    return df.select(F.col(id_col), F.posexplode(idx).alias("pos", "frame_idx"))

"""audio_feature_extraction_spark — a from-scratch, PySpark-native point-in-time
feature-engineering engine.

Capability parity target: chiy48308/audio_feature_extraction (see SURVEY.md).
The reference is a per-file audio feature loop (numpy/librosa); this engine
re-expresses its dataflow semantics — windowed per-entity sequence features,
gap sessionization, LOCF backfill, as-of alignment, grouped evaluation — as
idiomatic Spark DataFrame plans:

- ``operators.asof``       as-of / point-in-time join (union+window sorted merge
                           under hash, salted or range partitioning; broadcast)
- ``operators.sessionize`` gap-based sessionization (VAD segment-merge analog)
- ``operators.backfill``   LOCF / backfill / fill strategies
- ``operators.windows``    lag/lead deltas, width-9 regression delta, rolling
                           stats, Savitzky-Golay, cumulative ops, pre-emphasis
- ``operators.binpack``    n_tok-aware payload-balanced bin ids per group,
                           packed token batches, seeded epoch order keys
- ``operators.dedup``      exact / MinHash-LSH / SimHash / n-gram Jaccard /
                           cross-doc substring-run (ExactSubstr) dedup
- ``operators.similarity`` exact Arrow/BLAS top-k + LSH-bucketed + IVF
                           cell-pruned ANN; Lloyd centroid fitting
- ``operators.dtw``        exact banded weighted-step DTW kernel (one batched
                           mapInArrow, anti-diagonal DP vectorized across pairs)
- ``operators.text``       language-ID, quality scoring, token counting,
                           fingerprinting
- ``operators.multimodal`` opaque binary media columns + Arrow-batched decode
                           plumbing (decode kernels stubbed; see module docs)
- ``sources.checkpoint``   snapshot commits + per-partition lineage manifests,
                           anti-join resume (Iceberg-style; Parquet fallback)
- ``operators.graph``      large-star/small-star connected components
- ``plans.pipeline``       the flagship end-to-end feature pipeline

No per-row Python UDFs anywhere: column expressions first, Arrow-vectorized
pandas/Arrow UDFs (applyInPandas / mapInPandas / mapInArrow / cogroup) for
true kernels only.
"""

__version__ = "0.1.0"

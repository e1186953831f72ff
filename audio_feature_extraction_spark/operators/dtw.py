"""Exact per-pair DTW as one batched Arrow kernel (SURVEY.md §2.10).

The reference aligns a student sequence to a teacher sequence with a weighted
DTW (`05_dtw_alignment_experiment/dtw_alignment.py:930-1090`: step weights
favoring the diagonal, banded by max_time_difference `:44`). The engine's
*as-of join* replaces that alignment for point-in-time semantics; this module
is the exact-kernel fallback for when the full warping path is required.

Scale shape: each side is packed to one row per pair key (one hash
aggregate: ``array_sort(collect_list(struct(order_col, *features)))``), the
two packed sides are full-outer joined on the key, and a single
``mapInArrow`` runs the DP for every pair of an Arrow batch at once. The
kernel reads sequence lengths and values straight from the Arrow list
offsets (no Python object per row), groups the batch's pairs by shape
``(n, m)`` and runs the anti-diagonal DP and the backtrack once per shape
with a leading pair axis, so Python loops only over distinct shapes and
diagonals. Each call is split to stay under ``_CELL_BUDGET`` DP cells, which
bounds kernel memory at any scale; work per shuffled byte is small, so AQE's
byte-based partition sizing is right for this stage.

There is one DP: ``dtw_accumulate``, ``dtw_path`` and ``dtw_pair`` are the
single-pair (``P = 1``) forms of the batched functions, with the same float
operations per cell, in the same order, as the DuckDB oracle replays.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# DP cells (pairs x (n+1) x (m+1)) per batched call: ~8 MB per float64 array.
# A single pair larger than this still runs, alone.
_CELL_BUDGET = 1 << 20


def dtw_cost_batch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Euclidean local cost of stacked pairs (P,n,d) x (P,m,d) -> (P,n,m).

    Uses the expansion ``(Σa² + Σb²) - 2·Σab``; the three sums run the same
    elementwise multiply-and-add over the features, in feature order, so a
    sequence against itself costs exactly 0 on every diagonal cell whatever
    the BLAS (no matmul is involved). For d = 1 this is the oracle's
    ``sqrt(greatest((l*l + r*r) - 2.0*(l*r), 0.0))``."""
    af, bf = np.moveaxis(a, -1, 0), np.moveaxis(b, -1, 0)
    aa = reduce(np.add, (x * x for x in af))
    bb = reduce(np.add, (y * y for y in bf))
    ab = reduce(np.add, (x[:, :, None] * y[:, None, :] for x, y in zip(af, bf)))
    return np.sqrt(np.maximum(aa[:, :, None] + bb[:, None, :] - 2.0 * ab, 0.0))


def dtw_accumulate_batch(
    cost: np.ndarray,
    diag_weight: float = 1.0,
    step_weight: float = 1.0,
    band: int | None = None,
) -> np.ndarray:
    """Accumulated cost of stacked pairs of one shape: (P,n,m) ->
    (P,n+1,m+1), row and column 0 being the +inf border around acc[:,0,0] = 0.
    The recurrence and band are ``dtw_accumulate``'s; every anti-diagonal is
    one fancy-indexed numpy step over all P pairs."""
    p, n, m = cost.shape
    acc = np.full((p, n + 1, m + 1), np.inf)
    acc[:, 0, 0] = 0.0
    ratio = n / m if m else 1.0
    for s in range(2, n + m + 1):
        i = np.arange(max(1, s - m), min(n, s - 1) + 1)
        j = s - i
        if band is not None:
            keep = np.abs(i - j * ratio) <= band
            i, j = i[keep], j[keep]
            if len(i) == 0:
                continue
        prev = np.minimum(
            np.minimum(acc[:, i - 1, j], acc[:, i, j - 1]) * step_weight,
            acc[:, i - 1, j - 1] * diag_weight,
        )
        acc[:, i, j] = cost[:, i - 1, j - 1] + prev
    return acc


def dtw_backtrack_batch(
    acc: np.ndarray, diag_weight: float = 1.0, step_weight: float = 1.0
) -> tuple[np.ndarray, np.ndarray]:
    """Backtrack the optimal warping path of every pair in a bordered
    (P,n+1,m+1) ``acc`` from (n-1,m-1) to (0,0) (unbordered coordinates).

    Returns ``(ii, jj)``, each (n+m-1, P): row t is every pair's position
    after t steps; a pair that reached (0,0) stays there, so its path is the
    rows up to the first (0,0) and its length is 1 + the rows before it.

    The candidates MUST be compared with the same weights the forward
    recurrence used — an unweighted argmin reconstructs a path that does not
    achieve acc's accumulated cost whenever diag_weight != step_weight
    (caught by a randomized audit: 133/500 matrices diverged at the repo's
    own (0.8, 1.2) weights). Ties prefer diagonal, then up, then left,
    matching the recurrence's min() evaluation order. On row 0 the path can
    only go left, on column 0 only up."""
    p, n1, m1 = acc.shape
    rows = np.arange(p)
    i = np.full(p, n1 - 2)
    j = np.full(p, m1 - 2)
    ii, jj = [i], [j]
    for _ in range(n1 + m1 - 4):
        # bordered acc[i, j] is acc[i-1, j-1] unbordered, and so on
        k = np.argmin(
            np.stack(
                [
                    acc[rows, i, j] * diag_weight,
                    acc[rows, i, j + 1] * step_weight,
                    acc[rows, i + 1, j] * step_weight,
                ],
                axis=1,
            ),
            axis=1,
        )
        k = np.where(i == 0, 2, np.where(j == 0, 1, k))
        moving = (i > 0) | (j > 0)
        i = i - (moving & (k != 2))
        j = j - (moving & (k != 1))
        ii.append(i)
        jj.append(j)
    return np.stack(ii), np.stack(jj)


def _path_len(ii: np.ndarray, jj: np.ndarray) -> np.ndarray:
    return 1 + ((ii != 0) | (jj != 0)).sum(axis=0)


def dtw_batch(
    a: np.ndarray,
    b: np.ndarray,
    diag_weight: float = 1.0,
    step_weight: float = 1.0,
    band: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(dtw_dist, path_len) of stacked pairs (P,n,d) x (P,m,d); path_len is 0
    where the distance is not finite."""
    acc = dtw_accumulate_batch(dtw_cost_batch(a, b), diag_weight, step_weight, band)
    dist = acc[:, -1, -1]
    path_len = np.zeros(len(dist), dtype=np.int32)
    done = np.isfinite(dist)
    if done.any():
        path_len[done] = _path_len(
            *dtw_backtrack_batch(acc[done], diag_weight, step_weight)
        )
    return dist, path_len


def dtw_accumulate(
    cost: np.ndarray,
    diag_weight: float = 1.0,
    step_weight: float = 1.0,
    band: int | None = None,
) -> np.ndarray:
    """Accumulated-cost matrix for the weighted-step DTW recurrence

        acc[i,j] = cost[i,j] + min(acc[i-1,j] * step_weight,
                                   acc[i,j-1] * step_weight,
                                   acc[i-1,j-1] * diag_weight)

    (``diag_weight < step_weight`` reproduces the reference's
    diagonal-preferring alignment, `dtw_alignment.py:958-966`; both 1.0 is
    classic DTW). ``band`` is a Sakoe-Chiba constraint on the *slope-scaled*
    index difference ``|i - j*n/m| <= band``.

    Vectorized along anti-diagonals: every cell on diagonal ``s = i + j``
    depends only on diagonals ``s-1`` and ``s-2``, so each diagonal is one
    fancy-indexed numpy step — no per-cell Python loop. The single-pair form
    of ``dtw_accumulate_batch``."""
    return dtw_accumulate_batch(cost[None], diag_weight, step_weight, band)[
        0, 1:, 1:
    ]


def dtw_path(
    acc: np.ndarray, diag_weight: float = 1.0, step_weight: float = 1.0
) -> list[tuple[int, int]]:
    """The optimal warping path through an (n,m) ``acc`` from (0,0) to
    (n-1,m-1); the single-pair form of ``dtw_backtrack_batch``."""
    bordered = np.full((1, acc.shape[0] + 1, acc.shape[1] + 1), np.inf)
    bordered[0, 1:, 1:] = acc
    ii, jj = dtw_backtrack_batch(bordered, diag_weight, step_weight)
    steps = int(_path_len(ii, jj)[0])
    return [(int(i), int(j)) for i, j in zip(ii[:steps, 0], jj[:steps, 0])][::-1]


def dtw_pair(
    a: np.ndarray,
    b: np.ndarray,
    diag_weight: float = 1.0,
    step_weight: float = 1.0,
    band: int | None = None,
) -> dict:
    """DTW between two feature sequences (n,d) x (m,d), euclidean local cost.
    Returns {dtw_dist, dtw_norm, path_len, n, m}."""
    a = np.atleast_2d(np.asarray(a, dtype=np.float64))
    b = np.atleast_2d(np.asarray(b, dtype=np.float64))
    dists, path_lens = dtw_batch(a[None], b[None], diag_weight, step_weight, band)
    dist, path_len = float(dists[0]), int(path_lens[0])
    return {
        "dtw_dist": dist,
        "dtw_norm": dist / (a.shape[0] + b.shape[0]),
        "path_len": path_len,
        "n": a.shape[0],
        "m": b.shape[0],
    }


def dtw_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    order_col: str = "seq",
    feature_cols: list[str] | None = None,
    diag_weight: float = 1.0,
    step_weight: float = 1.0,
    band: int | None = None,
) -> DataFrame:
    """Per-key exact DTW: one row per key,
    (keys..., n, m, dtw_dist, dtw_norm, path_len).

    Each side's frames of a key are ordered by ``order_col``, ties broken by
    the feature values (the packing sorts whole structs). A key present on
    only one side yields n or m = 0, NULL distances and path_len 0 (the
    missing-partner case, `dtw_alignment.py:1443-1472`); keys pair by SQL
    equality, so a NULL key never pairs and comes out once per side. A pair
    whose end cell lies outside the band gets dtw_dist inf and path_len 0;
    a NULL feature value makes the pair's distance NaN.

    Plan: two hash aggregates (one per side) packing each key's frames into
    one ``array<double>`` per feature, a full-outer join on the key (which
    reuses the aggregates' key partitioning), then a single ``mapInArrow``
    that runs the DP for all pairs of each Arrow batch together, in calls
    of at most ``_CELL_BUDGET`` DP cells."""
    import pyarrow as pa

    feature_cols = feature_cols or ["value"]
    d = len(feature_cols)
    lcols = [f"_dtw_l{f}" for f in range(d)]
    rcols = [f"_dtw_r{f}" for f in range(d)]

    def pack(df: DataFrame, names: list[str]) -> DataFrame:
        s = F.array_sort(F.collect_list(F.struct(order_col, *feature_cols)))
        return df.groupBy(*on).agg(s.alias("_s")).select(
            *on,
            *[
                F.col("_s")[c].cast("array<double>").alias(name)
                for c, name in zip(feature_cols, names)
            ],
        )

    pairs = pack(left, lcols).join(pack(right, rcols), on, "full")
    key_fields = ", ".join(
        f"{k} {left.schema[k].dataType.simpleString()}" for k in on
    )
    out_schema = (
        f"{key_fields}, n int, m int, dtw_dist double, dtw_norm double, "
        "path_len int"
    )

    def side(batch, names):
        """(start offsets, lengths, flattened values per feature) of one
        side; a NULL list (key missing on this side) has length 0."""
        first = batch.column(names[0])
        offsets = first.offsets.to_numpy()
        lengths = np.where(first.is_null().to_numpy(zero_copy_only=False), 0,
                           np.diff(offsets))
        vals = [
            batch.column(c).values.to_numpy(zero_copy_only=False) for c in names
        ]
        return offsets[:-1], lengths, vals

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            starts_l, n, vals_l = side(batch, lcols)
            starts_r, m, vals_r = side(batch, rcols)
            dist = np.full(batch.num_rows, np.nan)
            path_len = np.zeros(batch.num_rows, dtype=np.int32)
            paired = np.flatnonzero((n > 0) & (m > 0))
            shapes, inverse = np.unique(
                np.stack([n[paired], m[paired]], axis=1), axis=0,
                return_inverse=True,
            )
            for g, (sn, sm) in enumerate(shapes):
                rows = paired[inverse.reshape(-1) == g]
                per_call = max(1, _CELL_BUDGET // ((sn + 1) * (sm + 1)))
                for c in range(0, len(rows), per_call):
                    sel = rows[c : c + per_call]
                    il = starts_l[sel, None] + np.arange(sn)
                    ir = starts_r[sel, None] + np.arange(sm)
                    dist[sel], path_len[sel] = dtw_batch(
                        np.stack([v[il] for v in vals_l], axis=-1),
                        np.stack([v[ir] for v in vals_r], axis=-1),
                        diag_weight, step_weight, band,
                    )
            one_sided = (n == 0) | (m == 0)
            yield pa.RecordBatch.from_arrays(
                [
                    *[batch.column(k) for k in on],
                    pa.array(n, pa.int32()),
                    pa.array(m, pa.int32()),
                    pa.array(dist, mask=one_sided),
                    pa.array(dist / (n + m), mask=one_sided),
                    pa.array(path_len),
                ],
                names=[*on, "n", "m", "dtw_dist", "dtw_norm", "path_len"],
            )

    return pairs.mapInArrow(kernel, schema=out_schema)

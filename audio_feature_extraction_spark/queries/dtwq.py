"""Exact banded weighted-DTW alignment kernel query.

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .common import _WU, _t, _uw


# --------------------------------------------------------------------------
# exact banded weighted DTW (J4's exact-kernel form,
# 05_dtw_alignment_experiment/dtw_alignment.py:930-1090)
# --------------------------------------------------------------------------

_DTW_CAP = 12       # frames per side (keeps the oracle's DP ~n*m cells/pair)

_DTW_BAND = 6.0     # Sakoe-Chiba band on slope-scaled |i - j*n/m|

_DTW_DW = 0.9       # diagonal step weight (diagonal-preferring, like the ref)

_DTW_SW = 1.1       # vertical/horizontal step weight

def _q_dtw_band_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-pair banded weighted-DTW distance (the alignment kernel the
    as-of join replaces when only point-in-time matches are needed; ref
    `05_dtw_alignment_experiment/dtw_alignment.py:930-1090`). Per user:
    left = first 12 'click' values, right = first 12 'view' values in
    event-time order; euclidean local cost computed exactly as the Arrow
    kernel does (sqrt(max(a²+b²-2ab, 0))); diagonal-preferring weights.
    The DuckDB oracle replays the identical DP as a recursive CTE over
    anti-diagonals, so the gate is exact — operations run in the same IEEE
    order on both engines."""
    from audio_feature_extraction_spark.operators.dtw import dtw_join

    events = _t(spark, sf_dir, "events")

    def side(event_type: str) -> DataFrame:
        return (
            events.where(F.col("event_type") == event_type)
            .select(
                "user_id",
                "value",
                F.row_number().over(_uw()).alias("seq"),
            )
            .where(F.col("seq") <= _DTW_CAP)
        )

    out = dtw_join(
        side("click"),
        side("view"),
        on=["user_id"],
        order_col="seq",
        feature_cols=["value"],
        diag_weight=_DTW_DW,
        step_weight=_DTW_SW,
        band=int(_DTW_BAND),
    )
    # pairs present on BOTH sides (the oracle's pair list); one-sided keys
    # are dtw_join's NULL-distance path, tested in test_dtw
    return out.where((F.col("n") > 0) & (F.col("m") > 0)).select(
        "user_id",
        "n",
        "m",
        F.round("dtw_dist", 6).alias("dtw_dist"),
        F.round("dtw_norm", 6).alias("dtw_norm"),
    )

# The oracle's DP: one recursive-CTE iteration per anti-diagonal. Each
# working row is an acc cell aged 0 (newest diagonal) or 1 (one behind);
# every row emits its successor CONTRIBUTIONS (up/left × step weight from
# age-0, diagonal × diag weight from age-1) plus a one-iteration self-copy,
# and the new diagonal's cells are min-aggregated contributions + local
# cost. Cells outside the band/bounds simply never exist (= +inf), exactly
# like the kernel's banded skip.
_SQL_DTW_BAND_COST = f"""
WITH RECURSIVE
lf AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER ({_WU}) AS seq
  FROM events WHERE event_type = 'click'),
rf AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER ({_WU}) AS seq
  FROM events WHERE event_type = 'view'),
l AS (SELECT * FROM lf WHERE seq <= {_DTW_CAP}),
r AS (SELECT * FROM rf WHERE seq <= {_DTW_CAP}),
pairs AS (
  SELECT l.user_id, max(l.seq)::INT AS n, max(r.seq)::INT AS m
  FROM (SELECT DISTINCT user_id, seq FROM l) l
  JOIN (SELECT DISTINCT user_id, seq FROM r) r USING (user_id)
  GROUP BY l.user_id),
cost AS (
  SELECT p.user_id, p.n, p.m, l.seq AS i, r.seq AS j,
         sqrt(greatest((l.value*l.value + r.value*r.value)
                       - 2.0*(l.value*r.value), 0.0)) AS c
  FROM pairs p
  JOIN l ON l.user_id = p.user_id
  JOIN r ON r.user_id = p.user_id
  WHERE abs(l.seq - r.seq * (p.n::DOUBLE / p.m)) <= {_DTW_BAND}),
dp AS (
  SELECT user_id, n, m, 0 AS i, 0 AS j, 0.0::DOUBLE AS acc, 1 AS age
  FROM pairs
  UNION ALL
  SELECT t.user_id, t.n, t.m, t.ti AS i, t.tj AS j,
         CASE WHEN t.kind = 'c' THEN c.c + min(t.val) ELSE min(t.val) END
           AS acc,
         CASE WHEN t.kind = 'c' THEN 0 ELSE 1 END AS age
  FROM (
    SELECT d.user_id, d.n, d.m, u.x.ti AS ti, u.x.tj AS tj,
           u.x.val AS val, u.x.kind AS kind
    FROM dp d, UNNEST(
      CASE WHEN d.age = 0 THEN
        [struct_pack(ti := d.i + 1, tj := d.j,
                     val := d.acc * {_DTW_SW}::DOUBLE, kind := 'c'),
         struct_pack(ti := d.i, tj := d.j + 1,
                     val := d.acc * {_DTW_SW}::DOUBLE, kind := 'c')]
        || CASE WHEN d.i + d.j + 1 <= d.n + d.m
                THEN [struct_pack(ti := d.i, tj := d.j,
                                  val := d.acc, kind := 'k')]
                ELSE [] END
      ELSE
        [struct_pack(ti := d.i + 1, tj := d.j + 1,
                     val := d.acc * {_DTW_DW}::DOUBLE, kind := 'c')]
      END) u(x)
  ) t
  LEFT JOIN cost c
    ON t.kind = 'c' AND c.user_id = t.user_id AND c.i = t.ti AND c.j = t.tj
  WHERE t.kind = 'k' OR c.c IS NOT NULL
  GROUP BY t.user_id, t.n, t.m, t.ti, t.tj, t.kind, c.c)
SELECT p.user_id, p.n, p.m,
       ROUND(COALESCE(min(d.acc), 'infinity'::DOUBLE), 6) AS dtw_dist,
       ROUND(COALESCE(min(d.acc), 'infinity'::DOUBLE) / (p.n + p.m), 6)
         AS dtw_norm
FROM pairs p
LEFT JOIN dp d ON d.user_id = p.user_id AND d.i = p.n AND d.j = p.m
GROUP BY p.user_id, p.n, p.m
"""


QUERIES = {
    "dtw_band_cost": (_q_dtw_band_cost, _SQL_DTW_BAND_COST),
}

"""Gap-based sessionization and per-session statistics.

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from audio_feature_extraction_spark.operators.sessionize import session_bounds
from audio_feature_extraction_spark.operators.sessionize import with_session_id
from audio_feature_extraction_spark.operators.timeutil import ts_micros
from .common import EV_GAP_SEC, EV_GAP_US, _WU, _t


# --------------------------------------------------------------------------
# sessionization (SURVEY.md §2.9)
# --------------------------------------------------------------------------


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = with_session_id(
        ev, keys=["user_id"], ts="ts", order=["ts", "event_id"], gap_sec=EV_GAP_SEC
    )
    return out.select("event_id", "user_id", "session_id")

_SQL_SESSIONIZE = f"""
WITH gaps AS (
  SELECT event_id, user_id, ts,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER ({_WU}) > {EV_GAP_US}
         THEN 1 ELSE 0 END AS is_new
  FROM events)
SELECT event_id, user_id,
  CAST(SUM(is_new) OVER ({_WU} ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM gaps
"""

def _q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sid = with_session_id(
        ev, keys=["user_id"], ts="ts", order=["ts", "event_id"], gap_sec=EV_GAP_SEC
    )
    agg = session_bounds(sid, keys=["user_id"], ts="ts", min_rows=2)
    return agg.select(
        "user_id",
        "session_id",
        "n_rows",
        "session_start",
        "session_end",
        (ts_micros("session_end") - ts_micros("session_start")).alias("duration_us"),
    )

_SQL_SESSION_STATS = f"""
WITH gaps AS (
  SELECT event_id, user_id, ts,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER ({_WU}) > {EV_GAP_US}
         THEN 1 ELSE 0 END AS is_new
  FROM events),
s AS (
  SELECT user_id, ts,
    CAST(SUM(is_new) OVER ({_WU} ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM gaps)
SELECT user_id, session_id, COUNT(*) AS n_rows,
  MIN(ts) AS session_start, MAX(ts) AS session_end,
  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
FROM s GROUP BY user_id, session_id HAVING COUNT(*) >= 2
"""

def _q_session_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session token throughput: gap-sessionize, then sum the session's
    token payload — the unit a streaming trainer consumes. One window pass
    + one keyed agg, both partitioned by the same user key (no extra
    exchange between them)."""
    ev = _t(spark, sf_dir, "events")
    sid = with_session_id(
        ev, keys=["user_id"], ts="ts", order=["ts", "event_id"], gap_sec=EV_GAP_SEC
    )
    from audio_feature_extraction_spark.plans.from_events import n_tok_of

    n_tok = n_tok_of("event_id")
    return (
        sid.withColumn("n_tok", n_tok)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("n_tok").cast("long").alias("session_tokens"),
            F.max("n_tok").alias("max_ntok"),
        )
    )

_SQL_SESSION_TOKEN_STATS = f"""
WITH gaps AS (
  SELECT event_id, user_id, ts,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER ({_WU}) > {EV_GAP_US}
         THEN 1 ELSE 0 END AS is_new
  FROM events),
sess AS (
  SELECT event_id, user_id,
    CAST(SUM(is_new) OVER ({_WU} ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS session_id,
    CAST(event_id % 31 + 2 AS INT) AS n_tok
  FROM gaps)
SELECT user_id, session_id,
  CAST(COUNT(*) AS BIGINT) AS n_seqs,
  CAST(SUM(n_tok) AS BIGINT) AS session_tokens,
  MAX(n_tok) AS max_ntok
FROM sess GROUP BY user_id, session_id
"""

def _q_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-presence report: top-10 user pairs by number of OVERLAPPING
    gap-sessions (plus total overlap µs). The pair generation is the
    start-bucket ⋈ cover-bucket self-overlap join (operators/rangejoin.py
    interval_self_overlap_pairs, r07): candidates ≈ the true-pair floor
    instead of a per-bucket quadratic (measured sf1.0: 5.1B → 1.37B
    candidate evaluations for 1.21B true pairs), the start side rides a
    broadcast so the exploded cover side is never shuffled, and the probe
    stage is explicitly repartitioned by user to a parallelism derived
    from the session count (AQE coalesces the tiny aggregated session
    frame to a handful of partitions, which would serialize the
    billion-candidate probe onto as many cores). Exactly-once emission by
    the lexicographic (start, user) order — never a cross product, never
    a distinct; same-user pairs cannot overlap (gap-sessionized), the
    operator's order predicate also never emits them (u_a != u_b is
    implied for overlapping rows). The session frame is persisted so the
    sessionize window+agg runs once, not once per join side."""
    from audio_feature_extraction_spark.operators.rangejoin import (
        interval_self_overlap_pairs,
    )
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    sid = with_session_id(
        ev, keys=["user_id"], ts="ts", order=["ts", "event_id"],
        gap_sec=EV_GAP_SEC,
    )
    sess = (
        session_bounds(sid, keys=["user_id"], ts="ts")
        .select(
            "user_id",
            ts_micros("session_start").alias("s"),
            ts_micros("session_end").alias("e"),
        )
        .persist()
    )
    # ONE eager stats job over the (persisted) session frame serves every
    # plan-time decision — the fan-out guard (max duration / bucket <=
    # 512), the probe parallelism and the pair-key packing probe below —
    # and warms the persist cache.
    _BUCKET_SEC, _MAX_FANOUT = 1800.0, 512
    stats = sess.agg(
        F.max(F.col("e") - F.col("s")).alias("d"),
        F.min("user_id").alias("lo"),
        F.max("user_id").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    worst = stats["d"] if stats and stats["d"] is not None else 0
    fanout = worst // int(_BUCKET_SEC * 1_000_000) + 2
    if fanout > _MAX_FANOUT:
        raise ValueError(
            f"session_overlap: longest session ({worst} us) spans "
            f"~{fanout} buckets at bucket_sec={_BUCKET_SEC}, exceeding "
            f"the {_MAX_FANOUT} fan-out cap — widen the bucket."
        )
    # the operator hash-partitions the cover side BY USER: every pair's
    # earlier-session row is probed in that user's task, so one pair's
    # overlaps land in at most TWO map tasks and the map-side partial
    # aggregate really combines (~5.4 rows/group at sf1.0) instead of
    # emitting ~1 row per group — the exchange carries ~0.23B rows, not
    # the full 1.21B pair stream (which, uncombined, either spilled 112 GB
    # through the map hash maps or had to bypass partial aggregation
    # entirely; both measured slower).
    # scale-adaptive probe parallelism from the measured session count
    # (not a constant tuned to either scale): ~2k cover sessions per task
    # keeps the probe task's partial-agg hash map (task's cover users ×
    # their partners) inside execution memory — at sf1.0 (480k sessions →
    # 240 tasks) 64 tasks spilled ~22 GB and 256 spilled zero — while the
    # floor/cap keep tiny inputs from paying 256 × ~15 ms of per-task
    # setup (the measured sf0.1 regression) and huge ones from launching
    # unbounded task counts (raise shuffle partitions instead at cluster
    # scale).
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_sessions = int(stats["n"]) if stats and stats["n"] is not None else 0
    probe_par = max(sp // 2, min(8 * sp, -(-n_sessions // 2000)))
    pairs = interval_self_overlap_pairs(
        sess, key="user_id", start="s", end="e", bucket_sec=_BUCKET_SEC,
        parallelism=probe_par,
    ).where(F.col("user_id_a") != F.col("user_id_b"))
    # side a starts first (operator contract), so the overlap window is
    # [s_b, least(e_a, e_b)] — greatest(s_a, s_b) == s_b by construction.
    # When user ids fit 31 bits (checked by the stats job above — true at
    # every bench/driver scale), the (u1, u2) pair packs into ONE long:
    # single-word group hashing on the billion-row partial aggregate; ids
    # that don't fit fall back to the two-column key with identical
    # results (tests/test_rangejoin_self.py covers both branches).
    pack = stats is not None and stats["lo"] is not None and (
        0 <= stats["lo"] and stats["hi"] < (1 << 31)
    )
    ov = (F.least("e_a", "e_b") - F.col("s_b")).alias("_ov")
    u1a, u2a = F.least("user_id_a", "user_id_b"), F.greatest(
        "user_id_a", "user_id_b"
    )
    if pack:
        pk = (F.shiftleft(u1a, 32) + u2a).alias("_pk")
        agg = (
            pairs.select(pk, ov)
            .groupBy("_pk")
            .agg(
                F.count(F.lit(1)).alias("n_overlaps"),
                F.sum("_ov").cast("long").alias("overlap_us"),
            )
            .select(
                F.shiftright("_pk", 32).alias("u1"),
                F.col("_pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("u2"),
                "n_overlaps",
                "overlap_us",
            )
        )
    else:
        agg = (
            pairs.select(u1a.alias("u1"), u2a.alias("u2"), ov)
            .groupBy("u1", "u2")
            .agg(
                F.count(F.lit(1)).alias("n_overlaps"),
                F.sum("_ov").cast("long").alias("overlap_us"),
            )
        )
    wnd = Window.orderBy(
        F.col("n_overlaps").desc(), F.col("overlap_us").desc(), "u1", "u2"
    )
    return (
        agg.withColumn("rank", F.row_number().over(wnd))
        .where(F.col("rank") <= 10)
        .select("rank", "u1", "u2", "n_overlaps", "overlap_us")
    )


_SQL_SESSION_OVERLAP = f"""
WITH gaps AS (
  SELECT event_id, user_id, ts,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER ({_WU}) > {EV_GAP_US}
         THEN 1 ELSE 0 END AS is_new
  FROM events),
s AS (
  SELECT user_id, ts,
    CAST(SUM(is_new) OVER ({_WU} ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS session_id
  FROM gaps),
sess AS (
  SELECT user_id, session_id,
         epoch_us(MIN(ts)) AS st, epoch_us(MAX(ts)) AS en
  FROM s GROUP BY 1, 2),
p AS (
  SELECT a.user_id AS u1, b.user_id AS u2, COUNT(*) AS n,
         SUM(LEAST(a.en, b.en) - GREATEST(a.st, b.st)) AS ov
  FROM sess a JOIN sess b
    ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
  GROUP BY 1, 2),
r AS (
  SELECT u1, u2, CAST(n AS BIGINT) AS n_overlaps,
         CAST(ov AS BIGINT) AS overlap_us,
         ROW_NUMBER() OVER (
           ORDER BY n DESC, ov DESC, u1, u2) AS rk
  FROM p)
SELECT CAST(rk AS INT) AS rank, u1, u2, n_overlaps, overlap_us
FROM r WHERE rk <= 10
"""


def _q_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions split into fixed panes when they exceed a max duration
    (4 h cap on 8 h-gap sessions): one shuffle, exact-µs pane arithmetic."""
    from audio_feature_extraction_spark.operators.sessionize import (
        with_capped_session_id,
    )

    ev = _t(spark, sf_dir, "events")
    out = with_capped_session_id(
        ev,
        keys=["user_id"],
        ts="ts",
        order=["ts", "event_id"],
        gap_sec=EV_GAP_SEC,
        max_duration_sec=14_400.0,
    )
    return out.select("event_id", "user_id", "session_id", "sub_session")

_SQL_CAPPED_SESSIONS = f"""
WITH gaps AS (
  SELECT event_id, user_id, ts,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER ({_WU}) > {EV_GAP_US}
         THEN 1 ELSE 0 END AS is_new
  FROM events),
sess AS (
  SELECT event_id, user_id, ts,
    CAST(SUM(is_new) OVER ({_WU} ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS session_id
  FROM gaps),
anchored AS (
  SELECT *,
    epoch_us(ts) - MIN(epoch_us(ts))
      OVER (PARTITION BY user_id, session_id) AS diff
  FROM sess)
SELECT event_id, user_id, session_id,
  CAST((diff - (diff % 14400000000)) / 14400000000 AS BIGINT) AS sub_session
FROM anchored
"""


QUERIES = {
    "sessionize": (_q_sessionize, _SQL_SESSIONIZE),
    "session_stats": (_q_session_stats, _SQL_SESSION_STATS),
    "session_token_stats": (_q_session_token_stats, _SQL_SESSION_TOKEN_STATS),
    "session_overlap": (_q_session_overlap, _SQL_SESSION_OVERLAP),
    "capped_sessions": (_q_capped_sessions, _SQL_CAPPED_SESSIONS),
}

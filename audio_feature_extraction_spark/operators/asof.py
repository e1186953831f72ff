"""Point-in-time / as-of join — the engine centerpiece (SURVEY.md J4/J5).

Semantics: for each left row, match the latest right row with the same equi
keys and ``right.ts <= left.ts`` (direction="backward"; "forward" is the
mirror, "nearest" the closer of the two), optionally within
``tolerance_sec``. This replaces the reference's DTW frame alignment
(`05_dtw_alignment_experiment/dtw_alignment.py:789-1090`) with an O(n+m)
sorted merge; the DTW band constraint survives as the tolerance
(max_time_difference analog, `dtw_alignment.py:44`). Zero temporal leakage by
construction: a backward match never reads right rows with ts > left.ts.

One matcher: union both sides with a marker, then ``last(struct)`` over the
history frame ordered by (ts, marker). Right-side rows sort *before* left
rows at equal ts, so backward matches are inclusive (ties match). It is a
100% JVM window exec — no Python, no join explosion. Four physical
strategies, same semantics (equivalence is tested):

``window``      (default) one hash exchange on the keys (or on the
                ``cluster_on`` subset) feeds the window.

``salted``      the window partition key is extended with a salt: left rows
                get pmod(xxhash64(ts), S); right rows are replicated to
                all S salts. Use when the equi key is coarse and skewed (one
                hot ``source``) — a single window partition would otherwise
                serialize the hot key on one task.

``range_merge`` the north rule's shape: repartitionByRange on the keys feeds
                the same window, whose own sort on (keys, ts, marker) is the
                secondary sort of a sorted merge over range partitions.
                Range partitioning balances partitions by sampled row
                counts, which also absorbs key skew without salting.

``broadcast``   for a SMALL right side (a reference dimension): collapse the
                right side to one sorted struct-array per key, broadcast it,
                and match per left row with array `filter` + `element_at` —
                the fat left side is never shuffled at all. The right side
                must fit in a broadcast (same contract as any dim broadcast).
                Backward and forward only.

Right side must be unique per (keys, ts): use :func:`dedupe_right` first if
needed (the reference pre-dedupes teacher frames the same way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.timeutil import tol_us, ts_micros

_MARK = "__is_ref"
_TS = "__asof_ts"
_SALT = "__salt"
STRATEGIES = ("window", "salted", "range_merge", "broadcast")
DIRECTIONS = ("backward", "forward", "nearest")


def dedupe_right(right: DataFrame, on: list[str], ts: str) -> DataFrame:
    """Keep one row per (keys, ts) deterministically (max over payload cols)."""
    payload = [c for c in right.columns if c not in set(on) | {ts}]
    return right.groupBy(*on, ts).agg(*[F.max(c).alias(c) for c in payload])


def _union_frames(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts: str,
    right_payload: list[str],
):
    lcols = left.columns
    l = left.select(
        *lcols,
        F.col(ts).alias(_TS),
        F.lit(0).alias(_MARK),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_payload],
        F.lit(None).cast(right.schema[ts].dataType).alias("__r_ts"),
    )
    r = right.select(
        *[
            F.col(c).alias(c) if c in on else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        F.col(ts).alias(_TS),
        F.lit(1).alias(_MARK),
        *[F.col(c).alias(f"__r_{c}") for c in right_payload],
        F.col(ts).alias("__r_ts"),
    )
    return l.unionByName(r)


def _finish(matched: DataFrame, left_cols, right_payload, tolerance_sec, direction):
    # a NULL left-ts row has no position in time and never matches (pandas
    # merge_asof parity; also the broadcast strategy's behavior). Without
    # this, the forward window's desc sort (NULLS LAST) exposes EVERY right
    # row to a NULL-ts left row.
    ok = F.col("__m___r_ts").isNotNull() & F.col(_TS).isNotNull()
    if tolerance_sec is not None:
        # exact int64 microsecond arithmetic — no double-rounding at the
        # tolerance boundary
        if direction == "backward":
            lag = ts_micros(_TS) - ts_micros("__m___r_ts")
        else:
            lag = ts_micros("__m___r_ts") - ts_micros(_TS)
        ok = ok & (lag <= F.lit(tol_us(tolerance_sec)))
    out = matched.where(F.col(_MARK) == 0).select(
        *left_cols,
        F.when(ok, F.col("__m___r_ts")).otherwise(F.lit(None)).alias("matched_ts"),
        *[
            F.when(ok, F.col(f"__m___r_{c}")).otherwise(F.lit(None)).alias(c)
            for c in right_payload
        ],
    )
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    tolerance_sec: float | None = None,
    direction: str = "backward",
    strategy: str = "window",
    salt_buckets: int = 8,
    cluster_on: list[str] | None = None,
) -> DataFrame:
    """As-of join; returns all left columns + ``matched_ts`` + right payload
    columns (NULL when no match within tolerance — the left-outer /
    missing-partner case, `dtw_alignment.py:1443-1472`). Both sides carry
    their event time in the column named ``left_ts``.

    ``cluster_on``: optional strict subset/prefix of ``on`` to hash-partition
    the union by (strategy="window" only). Hash partitioning on a subset of
    the window keys still satisfies the window's ClusteredDistribution, so
    Spark plans sort-only (no extra exchange) — AND every downstream window
    keyed by that subset (e.g. per-doc_id feature windows) reuses the same
    partitioning with zero further shuffles. This is how the flagship
    pipeline runs end-to-end on ONE exchange of the fat token rows.

    ``direction="nearest"`` (pandas ``merge_asof`` parity; every strategy
    but broadcast): the closer of the backward and forward candidates wins,
    exact-tie broken toward backward; ``tolerance_sec`` filters each
    candidate BEFORE the choice (so a NEARER but out-of-tolerance backward
    row loses to a farther in-tolerance forward row, matching pandas; the
    converse case is vacuous — a forward row nearer than an in-tolerance
    backward row is itself in tolerance). Plan shape:
    both directions ride the SAME partitioning — one exchange, two
    in-partition sorts.

    Raises ``ValueError`` for a ``strategy`` not in :data:`STRATEGIES`, a
    ``direction`` not in :data:`DIRECTIONS`, nearest with broadcast, or a
    ``cluster_on`` that is not a subset of ``on`` under strategy="window".
    """
    if strategy not in STRATEGIES:
        raise ValueError(f"strategy must be one of {STRATEGIES}, got {strategy!r}")
    if direction not in DIRECTIONS:
        raise ValueError(f"direction must be one of {DIRECTIONS}, got {direction!r}")
    if direction == "nearest" and strategy == "broadcast":
        raise ValueError(
            "direction='nearest' needs strategy 'window', 'salted' or "
            "'range_merge', not 'broadcast'"
        )
    if cluster_on and (strategy != "window" or not set(cluster_on) <= set(on)):
        raise ValueError(
            f"cluster_on {cluster_on} must be a subset of the equi keys {on} "
            "and needs strategy='window'"
        )
    right_payload = [c for c in right.columns if c not in set(on) | {left_ts}]

    if strategy == "broadcast":
        return _broadcast_asof(
            left, right, on, left_ts, right_payload, tolerance_sec, direction
        )

    u = _union_frames(left, right, on, left_ts, right_payload)
    nparts = int(u.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    part_keys = list(on)
    if strategy == "salted":
        salt = F.pmod(F.xxhash64(left_ts), F.lit(salt_buckets)).cast("int")
        # left rows pick one salt; right rows are replicated to every salt so
        # each salt cell sees the complete right side for its key
        l_salted = u.where(F.col(_MARK) == 0).withColumn(_SALT, salt)
        r_salted = u.where(F.col(_MARK) == 1).withColumn(
            _SALT, F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
        )
        u = l_salted.unionByName(r_salted)
        part_keys = part_keys + [_SALT]

    if strategy == "range_merge":
        # the range exchange satisfies the window's clustering on the keys,
        # so Spark adds no exchange of its own; the window's sort is the
        # secondary sort within each range partition
        u = u.repartitionByRange(nparts, *on)
    if cluster_on:
        u = u.repartition(nparts, *cluster_on)

    wb = (
        Window.partitionBy(*part_keys)
        .orderBy(F.col(_TS).asc(), F.col(_MARK).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(*part_keys)
        .orderBy(F.col(_TS).desc(), F.col(_MARK).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # ONE last() over a struct that is non-NULL for every right row — NOT a
    # per-column last(payload, ignorenulls): that would skip a genuine right
    # row whose payload value is NULL and resurrect an older non-NULL value,
    # conflating "no partner row" with "partner row with NULL value"
    # (hypothesis-found: left ts=1 matching right (ts=1, v=NULL) must yield
    # NULL, not the v of (ts=0)).
    m_struct = F.when(
        F.col(_MARK) == 1,
        F.struct(
            F.col("__r_ts").alias("ts"),
            *[F.col(f"__r_{c}").alias(c) for c in right_payload],
        ),
    )
    if direction == "nearest":
        t_us = tol_us(tolerance_sec)
        matched = u.select(
            "*",
            F.last(m_struct, ignorenulls=True).over(wb).alias("__mb"),
            F.last(m_struct, ignorenulls=True).over(wf).alias("__mf"),
        )
        blag = ts_micros(_TS) - ts_micros("__mb.ts")
        flag = ts_micros("__mf.ts") - ts_micros(_TS)
        # NULL left-ts rows never match (see _finish)
        lts_ok = F.col(_TS).isNotNull()
        valid_b = lts_ok & F.col("__mb.ts").isNotNull()
        valid_f = lts_ok & F.col("__mf.ts").isNotNull()
        if t_us is not None:
            valid_b = valid_b & (blag <= F.lit(t_us))
            valid_f = valid_f & (flag <= F.lit(t_us))
        chosen = F.when(
            valid_b & (~valid_f | (blag <= flag)), F.col("__mb")
        ).when(valid_f, F.col("__mf"))
        return matched.where(F.col(_MARK) == 0).select(
            *left.columns,
            chosen["ts"].alias("matched_ts"),
            *[chosen[c].alias(c) for c in right_payload],
        )
    w = wb if direction == "backward" else wf
    matched = u.select(
        "*", F.last(m_struct, ignorenulls=True).over(w).alias("__m")
    ).select(
        "*",
        *[F.col(f"__m.{c}").alias(f"__m___r_{c}") for c in right_payload],
        F.col("__m.ts").alias("__m___r_ts"),
    )
    return _finish(matched, left.columns, right_payload, tolerance_sec, direction)


def _broadcast_asof(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts: str,
    right_payload: list[str],
    tolerance_sec: float | None,
    direction: str,
) -> DataFrame:
    """Small-right as-of: per-key time-sorted struct array, broadcast-joined,
    matched with array ``filter`` + ``element_at`` — 100% JVM expressions,
    zero shuffle/sort of the (fat) left side. The 100 TB shape for PIT
    lookups against a reference *dimension* (the teacher-recording analog is
    exactly that: few reference rows per key, `dtw_alignment.py:1377-1416`)."""
    # struct sorts lexicographically, ts first → array_sort = time order
    refs = right.groupBy(*on).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(ts).alias("ts"), *[F.col(c) for c in right_payload])
            )
        ).alias("__refs")
    )
    # null-safe equality (<=>) so NULL keys match the NULL-key reference
    # history — the window-family strategies group NULL keys together via
    # partitionBy, and the documented cross-strategy equivalence must hold
    refs = refs.select(
        *[F.col(k).alias(f"__k_{k}") for k in on], "__refs"
    )
    cond = None
    for k in on:
        c = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
        cond = c if cond is None else cond & c
    j = left.join(F.broadcast(refs), cond, "left").drop(
        *[f"__k_{k}" for k in on]
    )

    lts = F.col(ts)
    # try_element_at: NULL on empty candidate array (a left row with no
    # in-tolerance partner) — element_at throws under ANSI mode (Spark 4
    # default), and NULL is exactly the intended missing-partner semantics.
    if direction == "backward":
        cand = F.filter("__refs", lambda r: r["ts"] <= lts)
        hit = F.try_element_at(cand, F.lit(-1))  # latest preceding
    else:
        cand = F.filter("__refs", lambda r: r["ts"] >= lts)
        hit = F.try_element_at(cand, F.lit(1))  # earliest following

    m_ts = hit["ts"]
    if tolerance_sec is not None:
        tol = F.lit(tol_us(tolerance_sec))
        lag = (
            ts_micros(ts) - ts_micros(m_ts)
            if direction == "backward"
            else ts_micros(m_ts) - ts_micros(ts)
        )
        ok = m_ts.isNotNull() & (lag <= tol)
    else:
        ok = m_ts.isNotNull()

    return j.select(
        *left.columns,
        F.when(ok, m_ts).alias("matched_ts"),
        *[F.when(ok, hit[c]).alias(c) for c in right_payload],
    )


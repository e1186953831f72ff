"""Point-in-time / as-of join — the engine centerpiece (SURVEY.md J4/J5).

Semantics: for each left row, match the latest right row with the same equi
keys and ``right.ts <= left.ts`` (direction="backward"; "forward" is the
mirror, "nearest" the closer of the two), optionally within
``tolerance_sec``. This replaces the reference's DTW frame alignment
(`05_dtw_alignment_experiment/dtw_alignment.py:789-1090`) with an O(n+m)
sorted merge; the DTW band constraint survives as the tolerance
(max_time_difference analog, `dtw_alignment.py:44`). Zero temporal leakage by
construction: a backward match never reads right rows with ts > left.ts.

One match rule (:func:`_matched`) turns the backward and forward candidates
of every strategy into the result: a NULL left ts never matches, the
tolerance applies per side in integer µs, and ``nearest`` ties go backward.
Three physical strategies produce those candidates, same semantics
(equivalence is tested):

``window``      (default) union both sides with a marker, then
                ``last(struct)`` over the history frame ordered by
                (ts, marker): the sorted sweep of a merge join, 100% JVM
                window exec. Right-side rows sort *before* left rows at
                equal ts, so backward matches are inclusive (ties match).
                One hash exchange on the keys (or on the ``cluster_on``
                subset) feeds the window.

``salted``      the window partition key is extended with a salt: left rows
                get pmod(xxhash64(ts), SALT_BUCKETS); right rows are
                replicated to every salt. Use when the equi key is coarse
                and skewed (one hot ``source``) — a single window partition
                would otherwise serialize the hot key on one task.

``broadcast``   for a SMALL right side (a reference dimension): collapse the
                right side to one sorted struct-array per key, broadcast it,
                and take the candidates per left row with array ``filter`` +
                ``try_element_at`` — the fat left side is never shuffled at
                all. The right side must fit in a broadcast (same contract as
                any dim broadcast).

A range-partitioned variant of the window strategy was measured and dropped:
its extra sampling job made it slower than ``window`` on uniform keys and
than ``salted`` on a hot key.

Right side must be unique per (keys, ts): use :func:`dedupe_right` first if
needed (the reference pre-dedupes teacher frames the same way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.timeutil import tol_us, ts_micros

_MARK = "__is_ref"
_SALT = "__salt"
SALT_BUCKETS = 8
STRATEGIES = ("window", "salted", "broadcast")
DIRECTIONS = ("backward", "forward", "nearest")


def dedupe_right(right: DataFrame, on: list[str], ts: str) -> DataFrame:
    """Keep one row per (keys, ts) deterministically (max over payload cols)."""
    payload = [c for c in right.columns if c not in set(on) | {ts}]
    return right.groupBy(*on, ts).agg(*[F.max(c).alias(c) for c in payload])


def _matched(
    frame: DataFrame,
    left_cols: list[str],
    right_payload: list[str],
    lts: Column,
    back: Column | None,
    fwd: Column | None,
    tolerance_sec: float | None,
) -> DataFrame:
    """The one match rule. ``back`` / ``fwd`` are the backward and forward
    candidate right rows (a struct with ``ts`` first, NULL when there is
    none; None when the direction does not ask for that side). Each
    candidate is checked on its own side first: a NULL left ts has no
    position in time and never matches (pandas ``merge_asof`` parity), and
    the tolerance compares exact int64 µs, no double rounding at the
    boundary. With both sides, the closer valid one wins and an exact tie
    goes backward; tolerance filters each side BEFORE the choice, so a
    nearer out-of-tolerance backward row loses to a farther in-tolerance
    forward row, as in pandas."""
    t_us = tol_us(tolerance_sec)

    def valid(cand: Column, lag: Column) -> Column:
        ok = lts.isNotNull() & cand["ts"].isNotNull()
        return ok if t_us is None else ok & (lag <= F.lit(t_us))

    if back is not None:
        blag = ts_micros(lts) - ts_micros(back["ts"])
        valid_b = valid(back, blag)
    if fwd is not None:
        flag = ts_micros(fwd["ts"]) - ts_micros(lts)
        valid_f = valid(fwd, flag)
    if fwd is None:
        chosen = F.when(valid_b, back)
    elif back is None:
        chosen = F.when(valid_f, fwd)
    else:
        chosen = F.when(valid_b & (~valid_f | (blag <= flag)), back).when(
            valid_f, fwd
        )
    return frame.select(
        *left_cols,
        chosen["ts"].alias("matched_ts"),
        *[chosen[c].alias(c) for c in right_payload],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    tolerance_sec: float | None = None,
    direction: str = "backward",
    strategy: str = "window",
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

    ``direction="nearest"`` (pandas ``merge_asof`` parity) computes both
    candidates; on the window strategies both ride the SAME partitioning —
    one exchange, two in-partition sorts.

    Raises ``ValueError`` for a ``strategy`` not in :data:`STRATEGIES`, a
    ``direction`` not in :data:`DIRECTIONS`, or a ``cluster_on`` that is not
    a subset of ``on`` under strategy="window".
    """
    if strategy not in STRATEGIES:
        raise ValueError(f"strategy must be one of {STRATEGIES}, got {strategy!r}")
    if direction not in DIRECTIONS:
        raise ValueError(f"direction must be one of {DIRECTIONS}, got {direction!r}")
    if cluster_on and (strategy != "window" or not set(cluster_on) <= set(on)):
        raise ValueError(
            f"cluster_on {cluster_on} must be a subset of the equi keys {on} "
            "and needs strategy='window'"
        )
    right_payload = [c for c in right.columns if c not in set(on) | {left_ts}]
    lts = F.col(left_ts)
    want_back, want_fwd = direction != "forward", direction != "backward"

    if strategy == "broadcast":
        j = _broadcast_refs(left, right, on, left_ts, right_payload)
        # try_element_at: NULL on an empty candidate array (no partner);
        # element_at throws under ANSI mode (Spark 4 default)
        back = fwd = None
        if want_back:  # latest preceding
            back = F.try_element_at(
                F.filter("__refs", lambda r: r["ts"] <= lts), F.lit(-1)
            )
        if want_fwd:  # earliest following
            fwd = F.try_element_at(
                F.filter("__refs", lambda r: r["ts"] >= lts), F.lit(1)
            )
        return _matched(
            j, left.columns, right_payload, lts, back, fwd, tolerance_sec
        )

    # both sides in one frame, event time in ``left_ts``; right rows carry
    # NULL in the other left columns and their payload in __r_* columns
    l = left.select(
        *left.columns,
        F.lit(0).alias(_MARK),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_payload],
    )
    r = right.select(
        *[
            F.col(c) if c in on or c == left_ts
            else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
        ],
        F.lit(1).alias(_MARK),
        *[F.col(c).alias(f"__r_{c}") for c in right_payload],
    )
    part_keys = list(on)
    if strategy == "salted":
        # left rows pick one salt; right rows are replicated to every salt so
        # each salt cell sees the complete right side for its key
        salt = F.pmod(F.xxhash64(left_ts), F.lit(SALT_BUCKETS)).cast("int")
        l = l.withColumn(_SALT, salt)
        r = r.withColumn(
            _SALT, F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
        )
        part_keys.append(_SALT)
    u = l.unionByName(r)
    if cluster_on:
        nparts = int(u.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        u = u.repartition(nparts, *cluster_on)

    # ONE last() over a struct that is non-NULL for every right row — NOT a
    # per-column last(payload, ignorenulls): that would skip a genuine right
    # row whose payload value is NULL and resurrect an older non-NULL value,
    # conflating "no partner row" with "partner row with NULL value"
    # (hypothesis-found: left ts=1 matching right (ts=1, v=NULL) must yield
    # NULL, not the v of (ts=0)).
    m_struct = F.when(
        F.col(_MARK) == 1,
        F.struct(
            lts.alias("ts"), *[F.col(f"__r_{c}").alias(c) for c in right_payload]
        ),
    )

    def candidate(ts_order: Column) -> Column:
        w = (
            Window.partitionBy(*part_keys)
            .orderBy(ts_order, F.col(_MARK).desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return F.last(m_struct, ignorenulls=True).over(w)

    sides = {}
    if want_back:
        sides["__mb"] = candidate(lts.asc())
    if want_fwd:
        sides["__mf"] = candidate(lts.desc())
    matched = u.select(
        "*", *[c.alias(n) for n, c in sides.items()]
    ).where(F.col(_MARK) == 0)
    return _matched(
        matched,
        left.columns,
        right_payload,
        lts,
        F.col("__mb") if want_back else None,
        F.col("__mf") if want_fwd else None,
        tolerance_sec,
    )


def _broadcast_refs(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts: str,
    right_payload: list[str],
) -> DataFrame:
    """Small-right as-of input: ``left`` with ``__refs``, its key's
    time-sorted struct array, broadcast-joined — zero shuffle/sort of the
    (fat) left side. The 100 TB shape for PIT lookups against a reference
    *dimension* (the teacher-recording analog is exactly that: few
    reference rows per key, `dtw_alignment.py:1377-1416`)."""
    # struct sorts lexicographically, ts first → array_sort = time order
    refs = right.groupBy(*on).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(ts).alias("ts"), *[F.col(c) for c in right_payload])
            )
        ).alias("__refs")
    )
    # null-safe equality (<=>) so NULL keys match the NULL-key reference
    # history — the window strategies group NULL keys together via
    # partitionBy, and the documented cross-strategy equivalence must hold
    refs = refs.select(
        *[F.col(k).alias(f"__k_{k}") for k in on], "__refs"
    )
    cond = None
    for k in on:
        c = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
        cond = c if cond is None else cond & c
    return left.join(F.broadcast(refs), cond, "left").drop(
        *[f"__k_{k}" for k in on]
    )

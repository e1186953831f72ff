"""Range / banded joins (SURVEY.md J5) — the DTW band-constraint analog
(`05_dtw_alignment_experiment/dtw_alignment.py:885-928`): for each left row,
the admissible right candidates are those within a time band around it.

Two operators, one per registry shape:

- :func:`band_join_stats` (``band_join``): equi-join on the entity keys +
  band predicate. Catalyst plans the equi part as a hash/sort-merge join
  and evaluates the band as a post-join filter, so the exchange is on the
  keys only; with AQE the skewed key splits are handled at runtime. The
  aggregate collapses the fan-out to one row per left row, map-side
  partial first.
- :func:`interval_self_overlap_pairs` (``session_overlap``): every
  overlapping pair of intervals from one frame, by a start-bucket ⋈
  cover-bucket equi-join — never a cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.timeutil import ts_micros


def interval_self_overlap_pairs(
    df: DataFrame,
    key: str,
    start: str,
    end: str,
    bucket_sec: float,
    parallelism: int,
) -> DataFrame:
    """Every unordered pair of OVERLAPPING closed µs intervals from ONE
    frame, emitted exactly once, built for the dense-overlap regime where
    a symmetric explode-both-sides join evaluates each true pair in every
    shared bucket (measured r07: 5.1B candidate evaluations for 1.21B true
    pairs on the sf1.0 session frame).

    Start/end columns are epoch-µs longs (convert with
    :func:`~audio_feature_extraction_spark.operators.timeutil.ts_micros`);
    ``end >= start`` is the caller's contract. Negative epochs are
    handled: bucketing uses the true floor ``(us - pmod(us, w)) div w``.

    Output columns: ``{key}_a, {start}_a, {end}_a, {key}_b, {start}_b,
    {end}_b`` with ``({start}_a, {key}_a) < ({start}_b, {key}_b)``
    lexicographically — side *a* is the earlier-starting interval of the
    pair (ties broken by key). PRECONDITION: ``(start, key)`` is unique
    per row; a pair of rows with identical (start, key) would order
    neither way and be dropped (gap-sessionized frames satisfy this: one
    user's sessions have distinct starts).

    Shape (guide §2.3/§2.4/§3.1): the *cover* side explodes each
    interval to the buckets it spans; the *start* side keeps ONE row per
    interval keyed by its start bucket. A pair overlaps iff the
    later-starting interval's start instant lies inside the earlier one
    (closed: ``s_b <= e_a``), and that start's bucket is covered by the
    earlier interval exactly once — so the equi-join on the bucket plus
    the (order, ``s_b <= e_a``) predicate emits each pair exactly once
    with candidate count ≈ Σ_bucket covers×starts ≈ N × mean concurrent
    intervals — the true-pair floor plus bucket-boundary waste — and the
    per-candidate predicate is three long comparisons. ``bucket_sec``
    trades cover-side explode volume (long intervals / small buckets)
    against starts-per-bucket boundary waste; SMALLER buckets only shrink
    the candidate set (starts per bucket fall while covers stay ≈
    concurrency), so size it a few × below the median interval duration.
    The caller bounds the explode: an interval of ``d`` µs covers at most
    ``d // w + 2`` buckets.

    The cover side is hash-partitioned by ``key`` into ``parallelism``
    partitions BEFORE the explode. The input is typically a
    just-aggregated frame that AQE has coalesced to a handful of small
    partitions, and the probe stage — the whole cost of the query — would
    otherwise run on those few cores (§2.6/§1.2). Partitioning by key
    (not round-robin) probes every pair whose EARLIER interval belongs to
    key u in u's task, so a downstream per-pair aggregate gets real
    map-side combining (one pair's overlaps split across at most two
    cover keys). The start side (one row per interval, three longs) is
    broadcast, so the exploded cover side is never shuffled."""
    w = int(round(bucket_sec * 1_000_000))

    def _bucket(col: str) -> Column:
        us = F.col(col)
        # (us - pmod)/w is exact: the numerator is a multiple of w, so the
        # double division cannot round for any |us| < 2^53 µs (~285 years)
        return ((us - F.pmod(us, F.lit(w))) / F.lit(w)).cast("long")

    ka, sa, ea = f"{key}_a", f"{start}_a", f"{end}_a"
    kb, sb, eb = f"{key}_b", f"{start}_b", f"{end}_b"
    cover = (
        df.select(
            F.col(key).alias(ka), F.col(start).alias(sa), F.col(end).alias(ea)
        )
        .repartition(parallelism, ka)
        .withColumn("_ba", F.explode(F.sequence(_bucket(sa), _bucket(ea))))
    )
    starts = F.broadcast(
        df.select(
            F.col(key).alias(kb),
            F.col(start).alias(sb),
            F.col(end).alias(eb),
            _bucket(start).alias("_bb"),
        )
    )
    cond = (
        (F.col("_ba") == F.col("_bb"))
        & (
            (F.col(sa) < F.col(sb))
            | ((F.col(sa) == F.col(sb)) & (F.col(ka) < F.col(kb)))
        )
        & (F.col(sb) <= F.col(ea))
    )
    return cover.join(starts, cond, "inner").drop("_ba", "_bb")


def band_join_stats(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    lo_sec: float = 0.0,
    hi_sec: float = 3600.0,
    value_col: str | None = None,
) -> DataFrame:
    """Per left row, stats over right rows with the same keys and
    ``left.ts - hi <= right.ts <= left.ts - lo`` (a trailing band; lo=0 makes
    it point-in-time inclusive — zero temporal leakage when lo >= 0). Both
    sides carry their timestamp in a column named ``ts``.

    Returns all left columns + ``n_in_band`` (+ ``band_max``/``band_sum``
    over ``value_col`` if given). Left rows with no candidates are kept with
    n_in_band = 0 (the missing-partner case, J2 analog).
    """
    lo_us = int(round(lo_sec * 1_000_000))
    hi_us = int(round(hi_sec * 1_000_000))
    r = right.select(
        *[F.col(c).alias(f"__r_{c}") for c in on],
        ts_micros("ts").alias("__r_us"),
        *([F.col(value_col).alias("__r_val")] if value_col else []),
    )
    lag = F.col("__l_us") - F.col("__r_us")
    # band predicate lives IN the join condition so left rows whose candidates
    # all miss the band still survive the outer join (n_in_band = 0)
    cond = [F.col(c) == F.col(f"__r_{c}") for c in on] + [
        (lag >= F.lit(lo_us)) & (lag <= F.lit(hi_us))
    ]
    # per-ROW identity for the regroup: grouping on the left columns alone
    # would collapse duplicate left rows into one row with summed stats.
    # The id never reaches the output, so its partition-dependent values
    # can't leak nondeterminism.
    l = left.withColumn("__l_us", ts_micros("ts")).withColumn(
        "__l_rid", F.monotonically_increasing_id()
    )
    j = l.join(r, cond, "left_outer")
    aggs = [F.count("__r_us").alias("n_in_band")]
    if value_col:
        aggs += [
            F.max("__r_val").alias("band_max"),
            F.sum("__r_val").alias("band_sum"),
        ]
    out = (
        j.groupBy(F.col("__l_rid"), *[F.col(c) for c in left.columns])
        .agg(*aggs)
        .drop("__l_rid")
    )
    return out

"""Gap-based sessionization (SURVEY.md §2.9) — the VAD segment-merge analog.

Reference semantics (`04_feature_extraction_experiment/process_audio.py:118-131`):
consecutive speech segments are merged while the gap ≤ min_silence_duration,
*then* sessions shorter than min_speech_duration are dropped — merge first,
filter second; order matters and is preserved here.

The session rule is declared once, as two column helpers over one ordered
entity window (one shuffle on the entity key, both windows share it):
  1. :func:`session_break` -- new[t] = 1 if ts[t] - lag(ts)[t] > threshold,
     else 0 (the first row of an entity is 0);
  2. :func:`session_index` -- session[t] = running_sum(new)[t], the
     cumulative count of session breaks.

:func:`with_session_id` nests the two in one column. A caller that already
runs windows over the same spec computes the flag in its first window layer
and the running sum in its second, so the rule adds no Window node of its
own (the flagship pipeline does this).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.timeutil import ts_micros


def with_session_id(
    df: DataFrame,
    keys: list[str],
    ts: str = "ts",
    order: list[str] | None = None,
    gap_sec: float = 30.0,
    out: str = "session_id",
) -> DataFrame:
    """Add a 0-based per-entity session id column."""
    w = Window.partitionBy(*keys).orderBy(*(order or [ts]))
    return df.withColumn(out, session_index(session_break(ts, w, gap_sec), w))


def session_break(ts: str, w: WindowSpec, gap_sec: float) -> Column:
    """1 where the row opens a new session (more than ``gap_sec`` after the
    previous row of ``w``), else 0. Exact int64 µs comparison."""
    gap_us = ts_micros(ts) - F.lag(ts_micros(ts), 1).over(w)
    return F.when(
        gap_us > F.lit(int(round(gap_sec * 1_000_000))), F.lit(1)
    ).otherwise(F.lit(0))


def session_index(breaks: Column | str, w: WindowSpec) -> Column:
    """0-based session id: the running sum of :func:`session_break` flags
    over ``w``'s history frame."""
    hist = w.rowsBetween(Window.unboundedPreceding, 0)
    return F.sum(breaks).over(hist).cast("long")


def session_bounds(
    df_with_sid: DataFrame,
    keys: list[str],
    ts: str = "ts",
    sid: str = "session_id",
    min_rows: int | None = None,
) -> DataFrame:
    """Collapse rows → one row per session with bounds and counts, then apply
    the reference's merge-then-filter short-session drop (sessions with
    fewer than ``min_rows`` rows)."""
    agg = df_with_sid.groupBy(*keys, sid).agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    dur = (ts_micros("session_end") - ts_micros("session_start")).cast("double") / 1e6
    agg = agg.withColumn("duration_sec", dur)
    if min_rows is not None:
        agg = agg.where(F.col("n_rows") >= F.lit(int(min_rows)))
    return agg


def with_capped_session_id(
    df: DataFrame,
    keys: list[str],
    ts: str = "ts",
    order: list[str] | None = None,
    gap_sec: float = 30.0,
    max_duration_sec: float = 3600.0,
    out: str = "session_id",
    sub_out: str = "sub_session",
) -> DataFrame:
    """Gap sessionization with a maximum session duration: gap-sessions
    longer than ``max_duration_sec`` are split into fixed-width sub-sessions
    anchored at the session's first event.

    Semantics: ``sub = floor((ts − session_start) / cap)`` — fixed panes from
    the anchor, NOT iterative re-anchoring at each split row (that form is a
    sequential recurrence with no bounded-window expression; panes are the
    standard engine semantics — Spark's own ``session_window`` has no cap at
    all). All arithmetic is exact int64 µs.

    One shuffle: the gap window, the session-start window, and the pane
    derivation all share the hash(keys) partitioning."""
    order = order or [ts]
    base = with_session_id(
        df, keys, ts=ts, order=order, gap_sec=gap_sec, out="__gap_sid"
    )
    w = Window.partitionBy(*keys, "__gap_sid")
    start_us = F.min(ts_micros(ts)).over(w)
    cap_us = int(round(max_duration_sec * 1_000_000))
    # exact pane index: strip the remainder FIRST so the division is an
    # exact-multiple / divisor (IEEE-exact) — floor(float_div) can misbucket
    # a row sitting exactly on a pane boundary
    diff = ts_micros(ts) - start_us
    sub = ((diff - F.pmod(diff, F.lit(cap_us))) / F.lit(cap_us)).cast("long")
    return (
        base.withColumn(sub_out, sub)
        .withColumn(out, F.col("__gap_sid"))
        .drop("__gap_sid")
    )

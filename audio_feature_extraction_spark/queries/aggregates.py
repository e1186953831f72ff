"""Grouped/rollup/cube/pivot aggregations and corpus statistics.

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from audio_feature_extraction_spark.operators import stats as _ST
from .common import EVENT_TYPES, _ev, _t


# --------------------------------------------------------------------------
# aggregation queries (SURVEY.md §2.4)
# --------------------------------------------------------------------------


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing rollup (A1/A5 analog): exact DECIMAL sums,
    cast to double only at the end."""
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    taxp = (F.lit(1.0) + F.col("l_tax")).cast("decimal(18,2)")
    disc_price = (d2("l_extendedprice") * disc).cast("decimal(18,4)")
    charge = disc_price * taxp
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(d2("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(d2("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )

_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE)
       AS sum_disc_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))
       * CAST(1.0 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
  ROUND(AVG(l_quantity), 6) AS avg_qty,
  ROUND(AVG(l_extendedprice), 6) AS avg_price,
  ROUND(AVG(l_discount), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

def _q_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.stddev_pop("value"), 6).alias("std_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )

_SQL_GROUPED_STATS = """
SELECT event_type, COUNT(*) AS n,
  ROUND(AVG(value), 6) AS avg_value,
  ROUND(STDDEV_POP(value), 6) AS std_value,
  MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY event_type
"""

def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("p75"),
    )

_SQL_PERCENTILES = """
SELECT event_type,
  ROUND(QUANTILE_CONT(value, 0.25), 6) AS p25,
  ROUND(QUANTILE_CONT(value, 0.50), 6) AS p50,
  ROUND(QUANTILE_CONT(value, 0.75), 6) AS p75
FROM events GROUP BY event_type
"""

def _q_bool_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hi = (F.col("value") > 100).cast("int")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(hi) * 100, 6).alias("high_rate_pct"),
        F.sum(hi).cast("long").alias("n_high"),
    )

_SQL_BOOL_RATES = """
SELECT event_type,
  ROUND(AVG(CASE WHEN value > 100 THEN 1 ELSE 0 END) * 100, 6) AS high_rate_pct,
  CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM events GROUP BY event_type
"""

def _q_missing_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.col("v").isNull().cast("int")), 6).alias("null_rate"),
    )

_SQL_MISSING_RATE = """
SELECT event_type, COUNT(*) AS n,
  ROUND(AVG(CASE WHEN value > 150 THEN 1 ELSE 0 END), 6) AS null_rate
FROM events GROUP BY event_type
"""

def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.stddev_pop("n_chars"), 6).alias("std_chars"),
        F.countDistinct("source").alias("n_sources"),
    )

_SQL_CORPUS_STATS = """
SELECT lang, COUNT(*) AS n_docs,
  ROUND(AVG(n_chars), 6) AS avg_chars,
  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
  ROUND(STDDEV_POP(n_chars), 6) AS std_chars,
  COUNT(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""

def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-deduction quality scoring ladder (P8/P9,
    04_…/feature_extractor.py:220-227)."""
    ev = _t(spark, sf_dir, "events")
    score = F.greatest(
        F.lit(1.0)
        - F.when(F.col("value") > 180, F.lit(0.3)).otherwise(F.lit(0.0))
        - F.when(F.col("value") < 20, F.lit(0.3)).otherwise(F.lit(0.0))
        - F.when(F.col("event_type") == "error", F.lit(0.3)).otherwise(F.lit(0.0)),
        F.lit(0.0),
    )
    ev = ev.withColumn("score", score)
    return ev.groupBy("event_type").agg(
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.round(F.avg((F.col("score") >= 0.7).cast("int")), 6).alias("pass_rate"),
    )

_SQL_QUALITY_SCORE = """
WITH s AS (
  SELECT event_type,
    GREATEST(1.0
      - CASE WHEN value > 180 THEN 0.3 ELSE 0.0 END
      - CASE WHEN value < 20 THEN 0.3 ELSE 0.0 END
      - CASE WHEN event_type = 'error' THEN 0.3 ELSE 0.0 END, 0.0) AS score
  FROM events)
SELECT event_type, ROUND(AVG(score), 6) AS avg_score,
  ROUND(AVG(CASE WHEN score >= 0.7 THEN 1 ELSE 0 END), 6) AS pass_rate
FROM s GROUP BY event_type
"""

def _q_snr_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived SNR/CV/stability aggregates (A9,
    04_…/feature_extractor.py:370-374, feature_extraction.py:316-324)."""
    ev = _t(spark, sf_dir, "events")
    out = _ST.snr_metrics(ev, ["event_type"], "value", noise_q=0.10)
    return out.select(
        "event_type",
        "n",
        F.round("snr_db", 6).alias("snr_db"),
        F.round("cv", 6).alias("cv"),
        F.round("stability", 6).alias("stability"),
    )

# ln(x)/ln(10) (NOT the C log10) so the double math matches Spark's
# Logarithm(base, expr) bit-for-bit
_SQL_SNR_STABILITY = """
SELECT event_type, COUNT(*) AS n,
  ROUND(20.0 * (LN(AVG(value) / (QUANTILE_CONT(value, 0.10) + 1e-8))
                / LN(10.0)), 6) AS snr_db,
  ROUND(STDDEV_POP(value) / (AVG(value) + 1e-8), 6) AS cv,
  ROUND(1.0 - STDDEV_POP(value) / (AVG(ABS(value)) + 1e-8), 6) AS stability
FROM events GROUP BY event_type
"""

def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width distribution analysis (A10, evaluation/evaluator.py:149-206)."""
    ev = _t(spark, sf_dir, "events")
    return _ST.histogram_counts(
        ev, "value", lo=0.0, hi=200.0, nbins=20, group_cols=["event_type"]
    )

_SQL_VALUE_HISTOGRAM = """
SELECT event_type,
  LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 10.0) AS INT), 0), 19) AS bucket,
  COUNT(*) AS n
FROM events
WHERE value IS NOT NULL AND NOT isnan(value)
GROUP BY 1, 2
"""

def _q_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key grouped reporting with subtotals (A6,
    dtw_alignment.py:1519-1552) — ROLLUP grouping sets."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().alias("grp"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select("o_orderpriority", "o_orderstatus", "grp", "n", "total_price")
    )

def _q_vector_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 Arrow-kernel template: per-row moment stats of the embedding
    vector via ONE Series→Series pandas_udf (float64 accumulation in array
    order — the reference's per-entity numpy semantics,
    core/feature_extractor.py:99-101)."""
    from audio_feature_extraction_spark.operators.kernels import vector_stats

    e = _t(spark, sf_dir, "embeddings")
    s = vector_stats("embedding")
    return e.select(
        "vec_id",
        F.round(s["mean"], 6).alias("v_mean"),
        F.round(s["std"], 6).alias("v_std"),
        F.round(s["vmin"], 6).alias("v_min"),
        F.round(s["vmax"], 6).alias("v_max"),
        F.round(s["l2"], 6).alias("v_l2"),
    )

_SQL_VECTOR_KERNEL = """
WITH clean AS (
  -- NaN elements are MISSING on both sides (kernels._vec_stats filters them)
  SELECT vec_id,
         list_filter(CAST(embedding AS DOUBLE[]), x -> NOT isnan(x)) AS e
  FROM embeddings)
SELECT vec_id,
  ROUND((SELECT AVG(x) FROM UNNEST(e) AS t(x)), 6) AS v_mean,
  ROUND((SELECT STDDEV_POP(x) FROM UNNEST(e) AS t(x)), 6) AS v_std,
  ROUND((SELECT MIN(x) FROM UNNEST(e) AS t(x)), 6) AS v_min,
  ROUND((SELECT MAX(x) FROM UNNEST(e) AS t(x)), 6) AS v_max,
  ROUND(SQRT((SELECT SUM(x * x) FROM UNNEST(e) AS t(x))), 6) AS v_l2
FROM clean
"""

def _q_cube_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 full-matrix variant: CUBE over (lesson, student) analog keys —
    per-lang × per-source rollups incl. both marginals
    (dtw_alignment.py:1519-1552)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.cube("lang", "source")
        .agg(
            F.grouping_id().alias("grp"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_chars").cast("long")).alias("chars"),
        )
        .select("lang", "source", "grp", "n", "chars")
    )

_SQL_CUBE_REPORT = """
SELECT lang, source,
  GROUPING(lang) * 2 + GROUPING(source) AS grp,
  COUNT(*) AS n,
  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars
FROM documents GROUP BY CUBE (lang, source)
"""

def _q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: count + exact distinct per group (evaluation/evaluator.py:70,
    dtw_alignment.py:1431-1434). approx_count_distinct is the 100 TB form;
    exact countDistinct here so the oracle comparison is deterministic."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )

_SQL_COUNT_DISTINCT = """
SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""

_SQL_ROLLUP_REPORT = """
SELECT o_orderpriority, o_orderstatus,
  GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS grp,
  COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""

def _q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 explicit GROUPING SETS form: chosen subtotal combinations only —
    (priority, status), (priority), (status) — not the full rollup lattice."""
    o = _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               grouping_id() AS grp,
               count(1) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM {o}
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus))
        """,
        o=o,
    )

_SQL_GROUPING_SETS = """
SELECT o_orderpriority, o_orderstatus,
  GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS grp,
  COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), (o_orderstatus))
"""

def _q_pivot_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-entity × per-category report via the native pivot operator
    (the reference's per-category metric matrices,
    evaluation/evaluator.py:149-206). Pivot values are pinned so the plan is
    deterministic (no extra distinct-scan job)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.round(F.avg("value"), 6))
    )

_SQL_PIVOT_REPORT = """
SELECT user_id,
  ROUND(AVG(value) FILTER (WHERE event_type = 'click'), 6) AS click,
  ROUND(AVG(value) FILTER (WHERE event_type = 'error'), 6) AS error,
  ROUND(AVG(value) FILTER (WHERE event_type = 'purchase'), 6) AS purchase,
  ROUND(AVG(value) FILTER (WHERE event_type = 'signup'), 6) AS signup,
  ROUND(AVG(value) FILTER (WHERE event_type = 'view'), 6) AS view
FROM events GROUP BY user_id
"""


def _q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of ``value`` over event time — the deg-1
    polyfit analog of the reference's pitch-contour trend fit
    (05_dtw_alignment_experiment/dtw_alignment.py:567), closing SURVEY
    §2.8's math-family residual.

    Exact cross-engine arithmetic (no covar_pop/regr_slope — their double
    accumulation order differs between engines): x = whole seconds since
    the user's FIRST event (exact int via integer div; non-negative, so
    Spark `div` == DuckDB `//`), y = value quantized to 1e-6
    (floor(v*1e6+0.5), the repo's deterministic round). Then

        slope = (n*sum(xy) - sum(x)*sum(y)) / (n*sum(x^2) - sum(x)^2) / 1e6

    with every sum exact — DECIMAL(38,0) on Spark, HUGEINT on DuckDB — so
    both engines divide the IDENTICAL integers and the resulting double is
    bit-equal with no final rounding step. Magnitude headroom: x ~ group
    time-span seconds (≤3e7 for a year), y ≤ 1e9ish, so n*sum(xy) stays
    under 1e38 even at n = 1e9 rows/group. Zero-variance or singleton
    groups yield NULL. One shuffle on user_id (window min + agg share it)."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # ts is TIMESTAMP_NTZ; the UTC-pinned session makes cast(timestamp) an
    # identity reinterpretation (same pattern as operators/timeutil.ts_micros)
    us = "unix_micros(cast(ts as timestamp))"
    ev = ev.select(
        "user_id",
        F.expr(
            f"({us} - min({us}) over (partition by user_id)) div 1000000"
        ).alias("x"),
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).alias("y"),
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    a = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d19("x")).alias("sx"),
        F.sum(d19("y")).alias("sy"),
        F.sum(d19("x") * d19("x")).alias("sxx"),
        F.sum(d19("x") * d19("y")).alias("sxy"),
    )
    nd = F.col("n").cast("decimal(20,0)")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    den = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    return a.select(
        "user_id",
        "n",
        F.when(
            den != F.lit(0),
            num.cast("double") / den.cast("double") / F.lit(1e6),
        ).alias("slope"),
    )


_SQL_TREND_SLOPE = """
WITH b AS (
  SELECT user_id,
         (epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id))
           // 1000000 AS x,
         CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL),
a AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM b GROUP BY 1)
SELECT user_id, n,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 1e6
       END AS slope
FROM a
"""


def _q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full deg-1 polyfit analog (slope + intercept + R², ref
    dtw_alignment.py:567): same exact-integer machinery as
    :func:`_q_trend_slope` (x = whole seconds since the user's first
    event, y quantized at 1e-6, DECIMAL(38,0)/HUGEINT sums) extended with
    Syy so R² = num² / (den · (n·Σy² − (Σy)²)) is a double expression
    over identical exact integers on both engines. num² would overflow
    any 128-bit integer (≤ ~1e51), so the FINAL ratio arithmetic runs in
    doubles — deterministic IEEE on identical inputs, no rounding step.
    Zero-variance x or y → NULL slope/intercept/r2. One user_id
    exchange, like trend_slope."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    us = "unix_micros(cast(ts as timestamp))"
    ev = ev.select(
        "user_id",
        F.expr(
            f"({us} - min({us}) over (partition by user_id)) div 1000000"
        ).alias("x"),
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).alias("y"),
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    a = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d19("x")).alias("sx"),
        F.sum(d19("y")).alias("sy"),
        F.sum(d19("x") * d19("x")).alias("sxx"),
        F.sum(d19("x") * d19("y")).alias("sxy"),
        F.sum(d19("y") * d19("y")).alias("syy"),
    )
    nd = F.col("n").cast("decimal(20,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    yden = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope_q = num / den  # y-quant units per second
    nd_d = F.col("n").cast("double")
    intercept_q = (F.col("sy").cast("double") - slope_q * F.col("sx").cast("double")) / nd_d
    return a.select(
        "user_id",
        "n",
        F.when(den != F.lit(0.0), slope_q / F.lit(1e6)).alias("slope"),
        F.when(den != F.lit(0.0), intercept_q / F.lit(1e6)).alias("intercept"),
        F.when(
            (den != F.lit(0.0)) & (yden != F.lit(0.0)),
            (num * num) / (den * yden),
        ).alias("r2"),
    )


_SQL_TREND_FIT = """
WITH b AS (
  SELECT user_id,
         (epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id))
           // 1000000 AS x,
         CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL),
a AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM b GROUP BY 1)
SELECT user_id, n,
  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) != 0.0
       THEN CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE) / 1e6
  END AS slope,
  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) != 0.0
       THEN (CAST(sy AS DOUBLE)
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
            / CAST(n AS DOUBLE) / 1e6
  END AS intercept,
  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) != 0.0
        AND CAST(n * syy - sy * sy AS DOUBLE) != 0.0
       THEN (CAST(n * sxy - sx * sy AS DOUBLE)
             * CAST(n * sxy - sx * sy AS DOUBLE))
            / (CAST(n * sxx - sx * sx AS DOUBLE)
               * CAST(n * syy - sy * sy AS DOUBLE))
  END AS r2
FROM a
"""


# --------------------------------------------------------------------------
# distribution drift (PSI) between two time periods
# --------------------------------------------------------------------------

# Fixed bin spec shared by the Spark query and the oracle: underflow,
# 10 x width-50 over [0, 500), overflow. Proportions are epsilon-clamped
# (classic PSI convention) so empty bins contribute finitely.
_PSI_BINS: list[tuple[float | None, float | None]] = (
    [(None, 0.0)]
    + [(50.0 * i, 50.0 * (i + 1)) for i in range(10)]
    + [(500.0, None)]
)
_PSI_SPLIT = "2024-01-16"
_PSI_EPS = "1e-6"


def _q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report per event_type: value
    distribution of the first half-month (reference) vs the second
    (current) over fixed bins. The standard training-data drift gate —
    PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 shifted.

    Engine-parity design: all 24 bin counts come from ONE groupBy
    (conditional sums, single shuffle); the PSI is an explicit fixed-order
    sum of the 12 per-bin terms, so Spark and the oracle add the same
    doubles in the same order (no float-agg reorder); the final value is
    floor(x*1e6+0.5)/1e6 on both sides (PSI >= 0, so half-up floor is
    exact and avoids the Spark-BigDecimal vs DuckDB-float ROUND split)."""
    e = _t(spark, sf_dir, "events")
    split = F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")

    def pred(lo: float | None, hi: float | None):
        if lo is None:
            return F.col("value") < F.lit(hi)
        if hi is None:
            return F.col("value") >= F.lit(lo)
        return (F.col("value") >= F.lit(lo)) & (F.col("value") < F.lit(hi))

    aggs = [
        F.sum(F.when(split, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~split, 1).otherwise(0)).alias("n_cur"),
    ]
    for j, (lo, hi) in enumerate(_PSI_BINS):
        aggs.append(
            F.sum(F.when(split & pred(lo, hi), 1).otherwise(0)).alias(f"r{j}")
        )
        aggs.append(
            F.sum(F.when((~split) & pred(lo, hi), 1).otherwise(0)).alias(
                f"c{j}"
            )
        )
    g = e.groupBy("event_type").agg(*aggs)

    eps = F.lit(float(_PSI_EPS))

    def prop(cnt: str, n: str):
        return F.greatest(
            F.col(cnt).cast("double") / F.col(n).cast("double"), eps
        )

    psi = None
    for j in range(len(_PSI_BINS)):
        p, q = prop(f"r{j}", "n_ref"), prop(f"c{j}", "n_cur")
        term = (p - q) * F.log(p / q)
        psi = term if psi is None else psi + term
    return (
        g.select(
            "event_type",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            (F.floor(psi * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
                "psi"
            ),
        )
        .orderBy("event_type")
    )


def _sql_drift_psi() -> str:
    def pred(lo: float | None, hi: float | None) -> str:
        if lo is None:
            return f"value < {hi}"
        if hi is None:
            return f"value >= {lo}"
        return f"value >= {lo} AND value < {hi}"

    cols = []
    for j, (lo, hi) in enumerate(_PSI_BINS):
        cols.append(
            f"SUM(CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' AND {pred(lo, hi)}"
            f" THEN 1 ELSE 0 END) AS r{j}"
        )
        cols.append(
            f"SUM(CASE WHEN ts >= TIMESTAMP '{_PSI_SPLIT}' AND "
            f"{pred(lo, hi)} THEN 1 ELSE 0 END) AS c{j}"
        )
    terms = []
    for j in range(len(_PSI_BINS)):
        p = (
            f"GREATEST(CAST(r{j} AS DOUBLE) / CAST(n_ref AS DOUBLE), "
            f"{_PSI_EPS})"
        )
        q = (
            f"GREATEST(CAST(c{j} AS DOUBLE) / CAST(n_cur AS DOUBLE), "
            f"{_PSI_EPS})"
        )
        terms.append(f"(({p}) - ({q})) * ln(({p}) / ({q}))")
    # left-assoc fixed-order sum, exactly the Spark expression's order
    psi = terms[0]
    for t in terms[1:]:
        psi = f"({psi}) + ({t})"
    cols_sql = ",\n    ".join(cols)
    return f"""
WITH g AS (
  SELECT event_type,
    SUM(CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 1 ELSE 0 END) AS n_ref,
    SUM(CASE WHEN ts >= TIMESTAMP '{_PSI_SPLIT}' THEN 1 ELSE 0 END) AS n_cur,
    {cols_sql}
  FROM events GROUP BY 1)
SELECT event_type,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       FLOOR(({psi}) * 1e6 + 0.5) / 1e6 AS psi
FROM g ORDER BY 1
"""


QUERIES = {
    "pricing_summary": (_q_pricing_summary, _SQL_PRICING),
    "grouped_stats": (_q_grouped_stats, _SQL_GROUPED_STATS),
    "percentiles": (_q_percentiles, _SQL_PERCENTILES),
    "bool_rates": (_q_bool_rates, _SQL_BOOL_RATES),
    "missing_rate": (_q_missing_rate, _SQL_MISSING_RATE),
    "corpus_stats": (_q_corpus_stats, _SQL_CORPUS_STATS),
    "quality_score": (_q_quality_score, _SQL_QUALITY_SCORE),
    "snr_stability": (_q_snr_stability, _SQL_SNR_STABILITY),
    "value_histogram": (_q_value_histogram, _SQL_VALUE_HISTOGRAM),
    "rollup_report": (_q_rollup_report, _SQL_ROLLUP_REPORT),
    "vector_kernel_stats": (_q_vector_kernel, _SQL_VECTOR_KERNEL),
    "cube_report": (_q_cube_report, _SQL_CUBE_REPORT),
    "count_distinct": (_q_count_distinct, _SQL_COUNT_DISTINCT),
    "grouping_sets_report": (_q_grouping_sets, _SQL_GROUPING_SETS),
    "pivot_report": (_q_pivot_report, _SQL_PIVOT_REPORT),
    "trend_slope": (_q_trend_slope, _SQL_TREND_SLOPE),
    "trend_fit": (_q_trend_fit, _SQL_TREND_FIT),
    "drift_psi": (_q_drift_psi, _sql_drift_psi()),
}

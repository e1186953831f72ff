"""Sketch / diagnostic queries: portable HLL approx-distinct and the
key-skew report.

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators import sketch as _SK
from audio_feature_extraction_spark.operators.stats import key_skew_report
from audio_feature_extraction_spark.operators.timeutil import ts_micros
from .common import _t

# p=9 -> m=512 registers, wbits = 61 - 9 = 52; standard error ~4.6%.
_HLL_P = 9
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 52
_POW_WBITS = 1 << _HLL_WBITS  # 2^52 = 4503599627370496


def _q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct (user, minute) pairs per event_type via the
    engine-portable integer-exact HLL (operators/sketch.py), reported next
    to the exact count so the relative error is part of the gated result.
    The estimate itself is deterministic — the oracle reproduces the same
    registers and the same double, so this is an EXACT correctness gate
    over an approximate algorithm."""
    e = _t(spark, sf_dir, "events")
    # No exchange before the register hashing: one measured 1.57x slower
    # at sf1.0 and 2.73x at sf0.1, as both consumers partial-agg in the
    # scan stage.
    base = e.select("event_type", "user_id", "ts").select(
        "event_type",
        F.concat_ws(
            ":",
            F.col("user_id").cast("string"),
            (ts_micros("ts") - F.pmod(ts_micros("ts"), F.lit(60_000_000)))
            .cast("string"),
        ).alias("v"),
    )
    regs = _SK.hll_registers(base, F.col("v"), ["event_type"], p=_HLL_P)
    est = _SK.hll_estimate(regs, ["event_type"], p=_HLL_P)
    exact = base.groupBy("event_type").agg(
        F.count_distinct("v").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "approx_distinct",
        "exact_distinct",
        F.round(
            F.col("approx_distinct") / F.col("exact_distinct") - 1, 6
        ).alias("rel_err"),
    )


def _sql_hll_distinct() -> str:
    """The full register pipeline in ANSI SQL — same md5-60-bit hash, same
    integer register math, same alpha literal (repr round-trips the exact
    Python double Spark's plan embeds)."""
    # scientific notation: DuckDB parses plain decimal-point literals as
    # DECIMAL (which overflows in the m^2*2^52 product); E-notation is
    # DOUBLE, and 17 significant digits round-trips the exact Python float
    alpha_m2 = f"{_SK.hll_alpha(_HLL_M) * _HLL_M * _HLL_M:.17e}"
    pow_w = f"{float(_POW_WBITS):.17e}"
    m_f = f"{float(_HLL_M):.17e}"
    return f"""
WITH v AS (
  SELECT event_type,
         CAST(user_id AS VARCHAR) || ':' ||
         CAST(epoch_us(ts)
              - ((epoch_us(ts) % 60000000) + 60000000) % 60000000
              AS VARCHAR) AS v
  FROM events),
h AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
  FROM v),
r AS (
  SELECT event_type, h % {_HLL_M} AS idx,
         CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_WBITS}
              ELSE {_HLL_WBITS} - length(bin(h // {_HLL_M})) END AS rank
  FROM h),
regs AS (
  SELECT event_type, idx, MAX(rank) AS rank FROM r GROUP BY 1, 2),
fold AS (
  SELECT event_type, COUNT(*) AS nreg,
         CAST(SUM(CAST(pow(2.0, {_HLL_WBITS} - rank) AS BIGINT)) AS BIGINT)
           AS s_present
  FROM regs GROUP BY 1),
est AS (
  SELECT event_type,
         {alpha_m2} * {pow_w} /
           CAST(s_present + ({_HLL_M} - nreg) * {_POW_WBITS} AS DOUBLE)
           AS raw,
         {_HLL_M} - nreg AS zeros
  FROM fold),
o AS (
  SELECT event_type,
         ROUND(CASE WHEN raw <= {2.5 * _HLL_M:.17e} AND zeros > 0
                    THEN {m_f} * ln({m_f} / zeros)
                    ELSE raw END, 4) AS approx_distinct
  FROM est),
x AS (
  SELECT event_type, COUNT(DISTINCT v) AS exact_distinct FROM v GROUP BY 1)
SELECT o.event_type, approx_distinct, exact_distinct,
       ROUND(approx_distinct / exact_distinct - 1, 6) AS rel_err
FROM o JOIN x ON o.event_type = x.event_type
"""


_CMS_D = 4
_CMS_W = 2048


def _q_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch point-queried at the 5 hottest users:
    exact count next to the sketch estimate and the (always >= 0)
    overcount. Registers are d=4 x w=2048 exact counters over the portable
    hash (operators/sketch.py cms_registers/cms_lookup) — the shuffle
    carries at most d*w cells however many events stream in, and the probe
    join broadcasts the fixed-size register frame."""
    e = _t(spark, sf_dir, "events")
    regs = _SK.cms_registers(
        e, F.col("user_id"), [], d=_CMS_D, w=_CMS_W
    )
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    from pyspark.sql import Window

    wnd = Window.orderBy(F.col("exact_cnt").desc(), "user_id")
    top = (
        exact.withColumn("rank", F.row_number().over(wnd))
        .where(F.col("rank") <= 5)
    )
    est = _SK.cms_lookup(
        regs, top.select("user_id"), "user_id", [], d=_CMS_D, w=_CMS_W
    )
    return top.join(est, "user_id").select(
        "rank",
        "user_id",
        "exact_cnt",
        "cms_count",
        (F.col("cms_count") - F.col("exact_cnt")).alias("overcount"),
    )


def _sql_cms_freq() -> str:
    def _h(row: str, val: str) -> str:
        return (
            "CAST(('0x' || substr(md5(CAST(" + row + " AS VARCHAR) || ':' || "
            "CAST(" + val + " AS VARCHAR)), 1, 15)) AS BIGINT) % " + str(_CMS_W)
        )

    seeds = ", ".join(f"({i})" for i in range(_CMS_D))
    return f"""
WITH seeds AS (SELECT * FROM (VALUES {seeds}) s(row)),
h AS (
  SELECT row, {_h('row', 'user_id')} AS idx
  FROM events CROSS JOIN seeds),
regs AS (SELECT row, idx, COUNT(*) AS cnt FROM h GROUP BY 1, 2),
exact AS (SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY 1),
top AS (SELECT user_id, exact_cnt,
               ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, user_id) AS rk
        FROM exact),
probe AS (
  SELECT t.user_id, s.row, {_h('s.row', 't.user_id')} AS idx
  FROM top t CROSS JOIN seeds s WHERE t.rk <= 5),
est AS (
  SELECT p.user_id, MIN(COALESCE(r.cnt, 0)) AS cms_count
  FROM probe p LEFT JOIN regs r ON p.row = r.row AND p.idx = r.idx
  GROUP BY 1)
SELECT CAST(t.rk AS INT) AS rank, t.user_id, t.exact_cnt, e.cms_count,
       e.cms_count - t.exact_cnt AS overcount
FROM top t JOIN est e ON t.user_id = e.user_id
WHERE t.rk <= 5
"""


_BLOOM_M = 512
_BLOOM_K = 4


def _q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning report: build a m=512/k=4 filter
    over the high-balance customers (c_acctbal > 9000), flag every order
    through it (operators/sketch.py bloom_bits/bloom_might_contain), and
    report per order priority how many orders pass the filter vs the
    exact semi-join — the false-positive surplus is part of the gated
    result, and the no-false-negative guarantee is the invariant
    false_pos >= 0 on every row. m is deliberately small so the fp rate
    is visibly nonzero at test scale; the whole filter build is one
    bounded distinct (<= m rows) and the probe side crosses only
    broadcast joins."""
    from audio_feature_extraction_spark.operators.parallel import spread

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    build = c.where(F.col("c_acctbal") > 9000).select("c_custkey")
    bits = _SK.bloom_bits(
        build, F.col("c_custkey"), m_bits=_BLOOM_M, k=_BLOOM_K
    )
    # project the two needed columns BEFORE the k-md5-per-row probe, and
    # spread the probe off the few-row-group orders scan (r07, guide
    # §2.3/§2.5: 4 md5 hashes × 1.5M rows on 1-2 scan tasks was ~3 s of
    # single-core work; the narrow exchange is far cheaper)
    probed = _SK.bloom_might_contain(
        spread(o.select("o_custkey", "o_orderpriority")),
        bits, "o_custkey", m_bits=_BLOOM_M, k=_BLOOM_K,
    )
    flagged = probed.join(
        F.broadcast(
            build.select(
                F.col("c_custkey").alias("o_custkey"),
                F.lit(1).alias("_in"),
            )
        ),
        "o_custkey",
        "left",
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("bloom_pass").cast("long")).alias("bloom_pass_cnt"),
            F.sum(F.coalesce("_in", F.lit(0)).cast("long")).alias(
                "exact_cnt"
            ),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "bloom_pass_cnt",
            "exact_cnt",
            (F.col("bloom_pass_cnt") - F.col("exact_cnt")).alias(
                "false_pos"
            ),
        )
        .orderBy("o_orderpriority")
    )


def _sql_bloom_prune() -> str:
    def _h(seed: str, val: str) -> str:
        return (
            "CAST(('0x' || substr(md5(CAST(" + seed + " AS VARCHAR) || ':' "
            "|| CAST(" + val + " AS VARCHAR)), 1, 15)) AS BIGINT) % "
            + str(_BLOOM_M)
        )

    seeds = ", ".join(f"({i})" for i in range(_BLOOM_K))
    return f"""
WITH build AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
seeds AS (SELECT * FROM (VALUES {seeds}) s(seed)),
bits AS (
  SELECT DISTINCT {_h('seed', 'c_custkey')} AS bit
  FROM build CROSS JOIN seeds),
probe AS (
  SELECT o.o_orderkey, o.o_orderpriority, o.o_custkey, s.seed,
         {_h('s.seed', 'o.o_custkey')} AS bit
  FROM orders o CROSS JOIN seeds s),
passed AS (
  SELECT o_orderkey, o_orderpriority, o_custkey,
         (COUNT(b.bit) = {_BLOOM_K}) AS bloom_pass
  FROM probe p LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY 1, 2, 3)
SELECT p.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN p.bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS bloom_pass_cnt,
       CAST(SUM(CASE WHEN bl.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS exact_cnt,
       CAST(SUM(CASE WHEN p.bloom_pass THEN 1 ELSE 0 END)
          - SUM(CASE WHEN bl.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS false_pos
FROM passed p LEFT JOIN build bl ON p.o_custkey = bl.c_custkey
GROUP BY 1
ORDER BY 1
"""


_QS_LO, _QS_HI, _QS_BINS = 0.0, 600.0, 600


def _q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bounded-state quantile estimates per event_type (q50/q90/
    q99 from the 600-bin CDF sketch, worst-case error = bin width 1.0)
    next to the exact p90 error — the 100 TB replacement for exact
    percentile() (which shuffles every value; the sketch shuffles <= 600
    ints per group). All outputs half-up-floored at 1e-6 on BOTH engines
    (positive-or-negative-safe: the convention is ours, applied
    identically)."""
    e = _t(spark, sf_dir, "events")
    regs = _SK.qsketch_registers(
        e, F.col("value"), ["event_type"], _QS_LO, _QS_HI, _QS_BINS
    )
    est = _SK.qsketch_quantiles(
        regs, ["event_type"], [0.5, 0.9, 0.99], _QS_LO, _QS_HI, _QS_BINS
    )
    exact = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.9)).alias("_p90")
    )

    def r6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            r6(F.col("q_0_5")).alias("q50"),
            r6(F.col("q_0_9")).alias("q90"),
            r6(F.col("q_0_99")).alias("q99"),
            r6(F.col("q_0_9") - F.col("_p90")).alias("err90"),
        )
        .orderBy("event_type")
    )


def _sql_approx_quantiles() -> str:
    def est(q: str) -> str:
        return (
            f"MAX(CASE WHEN CAST(cum AS DOUBLE) >= {q} * CAST(n AS DOUBLE) "
            f"AND CAST(cum - cnt AS DOUBLE) < {q} * CAST(n AS DOUBLE) "
            f"THEN {_QS_LO} + {(_QS_HI - _QS_LO) / _QS_BINS} * "
            f"(CAST(bin AS DOUBLE) + ({q} * CAST(n AS DOUBLE) "
            f"- CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)) END)"
        )

    width = (_QS_HI - _QS_LO) / _QS_BINS
    return f"""
WITH b AS (
  SELECT event_type,
    GREATEST(LEAST(CAST(FLOOR((value - {_QS_LO}) / {width}) AS INT),
                   {_QS_BINS - 1}), 0) AS bin
  FROM events),
r AS (SELECT event_type, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
c AS (
  SELECT event_type, bin, cnt,
    SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
    SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM r),
e AS (
  SELECT event_type,
    {est('0.5')} AS q50r,
    {est('0.9')} AS q90r,
    {est('0.99')} AS q99r
  FROM c GROUP BY 1),
x AS (SELECT event_type, QUANTILE_CONT(value, 0.9) AS p90
      FROM events GROUP BY 1)
SELECT e.event_type,
  FLOOR(q50r * 1e6 + 0.5) / 1e6 AS q50,
  FLOOR(q90r * 1e6 + 0.5) / 1e6 AS q90,
  FLOOR(q99r * 1e6 + 0.5) / 1e6 AS q99,
  FLOOR((q90r - p90) * 1e6 + 0.5) / 1e6 AS err90
FROM e JOIN x ON e.event_type = x.event_type
ORDER BY 1
"""


_Z_BITS = 10
_Z_BLOCK = 1024  # cells per storage block (file) in the layout model
_Z_SEL = (40, 104, 128, 384)  # a in [40,104), b in [128,384)


def _q_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout pruning report: how many storage blocks a 2-D range query
    (user band x minute-of-cycle band) must touch when events are laid
    out LINEAR (sorted by user, block = user bucket) vs Z-ORDER
    (operators/layout.py Morton interleave, block = 1024 consecutive
    z-values = a 32x32 tile of the (user, minute) grid). Same rows
    selected either way; the z layout touches the tiles the rectangle
    crosses while the linear layout touches every user's block across
    the whole time axis — the measured version of Delta/Iceberg
    ZORDER BY. Pure integer column expressions, one aggregation."""
    from audio_feature_extraction_spark.operators.layout import (
        zorder_key_sql,
    )

    a_lo, a_hi, b_lo, b_hi = _Z_SEL
    e = _t(spark, sf_dir, "events")
    # CAST first: parquet may infer TIMESTAMP_NTZ, which unix_micros
    # rejects (session is pinned UTC, so the reinterpretation is exact)
    base = e.selectExpr(
        "user_id % 1024 AS a",
        "(unix_micros(CAST(ts AS TIMESTAMP)) div 60000000) % 1024 AS b",
    )
    k = base.selectExpr(
        "a",
        "b",
        f"{zorder_key_sql('a', 'b', _Z_BITS)} div {_Z_BLOCK} AS zb",
        "a AS lb",
        f"a >= {a_lo} AND a < {a_hi} AND b >= {b_lo} AND b < {b_hi} AS sel",
    )
    g = k.agg(
        F.count_distinct("lb").alias("lt"),
        F.count_distinct(F.when(F.col("sel"), F.col("lb"))).alias("ltt"),
        F.count_distinct("zb").alias("zt"),
        F.count_distinct(F.when(F.col("sel"), F.col("zb"))).alias("ztt"),
        F.sum(F.col("sel").cast("long")).alias("n"),
    )
    return g.selectExpr(
        "stack(2, 'linear', lt, ltt, n, 'zorder', zt, ztt, n) "
        "AS (layout, blocks_total, blocks_touched, rows_sel)"
    ).orderBy("layout")


def _sql_zorder_prune() -> str:
    from audio_feature_extraction_spark.operators.layout import (
        zorder_key_sql,
    )

    a_lo, a_hi, b_lo, b_hi = _Z_SEL
    return f"""
WITH base AS (
  SELECT user_id % 1024 AS a,
         (epoch_us(ts) // 60000000) % 1024 AS b
  FROM events),
k AS (
  SELECT a, b,
         {zorder_key_sql('a', 'b', _Z_BITS)} // {_Z_BLOCK} AS zb,
         a AS lb,
         (a >= {a_lo} AND a < {a_hi} AND b >= {b_lo} AND b < {b_hi}) AS sel
  FROM base),
g AS (
  SELECT COUNT(DISTINCT lb) AS lt,
         COUNT(DISTINCT CASE WHEN sel THEN lb END) AS ltt,
         COUNT(DISTINCT zb) AS zt,
         COUNT(DISTINCT CASE WHEN sel THEN zb END) AS ztt,
         SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS n
  FROM k)
SELECT 'linear' AS layout, CAST(lt AS BIGINT) AS blocks_total,
       CAST(ltt AS BIGINT) AS blocks_touched, CAST(n AS BIGINT) AS rows_sel
FROM g
UNION ALL
SELECT 'zorder', CAST(zt AS BIGINT), CAST(ztt AS BIGINT), CAST(n AS BIGINT)
FROM g
ORDER BY 1
"""


def _q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report on events.user_id: top-10 hottest keys with
    row share and hot-factor vs the mean key (operators/stats.py
    key_skew_report) — the pre-flight check before picking a join or
    aggregation key at 100 TB."""
    e = _t(spark, sf_dir, "events")
    return key_skew_report(e, "user_id", top_k=10)


_SQL_KEY_SKEW = """
WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS n_keys FROM c),
r AS (SELECT user_id, cnt, total, n_keys,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rank
      FROM c CROSS JOIN t)
SELECT CAST(rank AS INT) AS rank, user_id, cnt,
       ROUND(CAST(cnt AS DOUBLE) / total, 6) AS share,
       ROUND(CAST(cnt AS DOUBLE) * n_keys / total, 6) AS hot_factor,
       n_keys
FROM r WHERE rank <= 10
"""


QUERIES = {
    "hll_distinct": (_q_hll_distinct, _sql_hll_distinct()),
    "cms_freq": (_q_cms_freq, _sql_cms_freq()),
    "bloom_prune": (_q_bloom_prune, _sql_bloom_prune()),
    "approx_quantiles": (_q_approx_quantiles, _sql_approx_quantiles()),
    "zorder_prune": (_q_zorder_prune, _sql_zorder_prune()),
    "key_skew": (_q_key_skew, _SQL_KEY_SKEW),
}

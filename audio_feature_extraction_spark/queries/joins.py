"""Equi/anti/band/star joins and set operations.

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from audio_feature_extraction_spark.operators.rangejoin import band_join_stats
from .common import _t


# --------------------------------------------------------------------------
# equi / anti joins (J1-J3)
# --------------------------------------------------------------------------


def _q_equi_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim chain + 1:N fan-out rollup (J1/J3).

    r07 shape (guide §2.3 'aggregate before you shuffle'): orders
    pre-aggregate per custkey FIRST, so the join carries one row per
    customer instead of the full fan-out and the per-nation rollup needs
    no two-phase countDistinct (each custkey appears exactly once after
    the pre-agg, so n_customers is a plain count). Equivalence: decimal
    sums are exact, so the per-cust partial sums re-sum to the identical
    total; count(o_orderkey) = Σ per-cust counts with no-order customers
    contributing 0 via the left join. The 150k-row pre-agg rides a
    broadcast, so the customer side is never shuffled at all."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("_n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_price"),
    )
    j = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(per_cust), cust.c_custkey == per_cust.o_custkey, "left_outer")
    return j.groupBy("n_name").agg(
        F.count("c_custkey").alias("n_customers"),
        F.sum(F.coalesce("_n_orders", F.lit(0))).alias("n_orders"),
        F.sum("_price").cast("double").alias("total_price"),
    )

_SQL_EQUI_JOIN_FANOUT = """
SELECT n_name,
  COUNT(DISTINCT c_custkey) AS n_customers,
  COUNT(o_orderkey) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM customer
JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY n_name
"""

def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")

_SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""

# --------------------------------------------------------------------------
# set operations (U1-U3)
# --------------------------------------------------------------------------


def _q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select("user_id")
    b = ev.where(F.col("event_type") == "view").select("user_id")
    return a.unionByName(b).distinct()

_SQL_UNION_DISTINCT = """
SELECT user_id FROM events WHERE event_type = 'click'
UNION
SELECT user_id FROM events WHERE event_type = 'view'
"""

def _q_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "purchase").select("user_id")
    b = ev.where(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)

_SQL_INTERSECT_USERS = """
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'error'
"""

# --------------------------------------------------------------------------
# range/banded join (J5) + event-time frames (W1)
# --------------------------------------------------------------------------

BAND_HI_SEC = 86_400.0

BAND_HI_US = int(BAND_HI_SEC * 1_000_000)

def _q_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-band join (J5, dtw_alignment.py:885-928): per click, stats
    over same-user purchases in the last 24 h. DECIMAL sum for exactness."""
    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").cast("decimal(18,6)").alias("pval")
    )
    out = band_join_stats(
        left, right, on=["user_id"], lo_sec=0.0, hi_sec=BAND_HI_SEC,
        value_col="pval",
    )
    return out.select(
        "event_id",
        "user_id",
        "n_in_band",
        F.col("band_max").cast("double").alias("band_max"),
        F.col("band_sum").cast("double").alias("band_sum"),
    )

_SQL_BAND_JOIN = f"""
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, epoch_us(ts) AS us,
                  CAST(value AS DECIMAL(18,6)) AS pval
           FROM events WHERE event_type = 'purchase')
SELECT l.event_id, l.user_id,
  COUNT(r.us) AS n_in_band,
  CAST(MAX(r.pval) AS DOUBLE) AS band_max,
  CAST(SUM(r.pval) AS DOUBLE) AS band_sum
FROM l LEFT JOIN r
  ON l.user_id = r.user_id
 AND epoch_us(l.ts) - r.us BETWEEN 0 AND {BAND_HI_US}
GROUP BY l.event_id, l.user_id
"""

def _q_region_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-flavored 5-way star join (J1 breadth: lineitem ⋈ supplier ⋈
    nation ⋈ region ⋈ part): revenue per (region, brand). All three
    dimension chains are broadcast (supplier/nation/region/part are dims);
    the fact table streams through one hash-agg — at 100 TB the only
    exchange is the final (region, brand) combine. Exact DECIMAL money."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    d2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    disc_price = (
        d2("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    ).cast("decimal(18,4)")
    dim = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "r_name")
    )
    return (
        l.join(dim, l.l_suppkey == dim.s_suppkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("r_name", "p_brand")
        .agg(
            F.sum(disc_price).cast("double").alias("revenue"),
            F.sum(d2("l_quantity")).cast("double").alias("qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )

_SQL_REGION_PART_REVENUE = """
SELECT r_name, p_brand,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE)
       AS revenue,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
  COUNT(*) AS n_lines
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN part ON l_partkey = p_partkey
GROUP BY r_name, p_brand
"""


QUERIES = {
    "equi_join_fanout": (_q_equi_join_fanout, _SQL_EQUI_JOIN_FANOUT),
    "anti_join": (_q_anti_join, _SQL_ANTI_JOIN),
    "union_distinct": (_q_union_distinct, _SQL_UNION_DISTINCT),
    "intersect_users": (_q_intersect_users, _SQL_INTERSECT_USERS),
    "band_join": (_q_band_join, _SQL_BAND_JOIN),
    "region_part_revenue": (_q_region_part_revenue, _SQL_REGION_PART_REVENUE),
}

"""Adapters: the driver's ``events`` table → the engine's input_hint schema
``(doc_id:string, tokens:array<int32>, n_tok:int32, source:string, ts, value)``
plus the per-source reference (right) side of the as-of join.

Shared by ``__spark_entry__`` (the driver contract) and the spark-submit
scaling job, so both run the identical flagship plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

V_NULL_ABOVE = 150.0  # missing-value injection threshold (unvoiced-F0 analog)


def with_v(ev: DataFrame) -> DataFrame:
    """NULL-injected observation column (SURVEY.md P1)."""
    return ev.withColumn(
        "v",
        F.when(F.col("value") > V_NULL_ABOVE, F.lit(None)).otherwise(
            F.col("value")
        ),
    )


def n_tok_of(event_id_col: str = "event_id"):
    """The deterministic sequence-length derivation (2..32 tokens). Single
    source of truth — entry queries and oracles that re-derive n_tok must
    agree with the flagship pipeline's tokens arrays."""
    return (F.pmod(F.col(event_id_col), F.lit(31)) + F.lit(2)).cast("int")


def sequences_from_events(ev: DataFrame) -> DataFrame:
    """Left side: one pre-tokenized sequence row per event (input_hint shape).
    tokens = [1..n_tok] int32, deterministic in event_id — bit-identity of
    the array through the pipeline is assertable in closed form.

    The compact pre-token columns are hash-repartitioned by doc_id and the
    tokens arrays are generated after that exchange: the downstream
    window/sessionize chain is partitioned by doc_id and reuses it, the
    exchange carries ~30-byte rows instead of the token arrays, and the
    array generation runs on every core (median 19.0 s vs 22.2 s without
    it for the six flagship-input queries at a single-row-group sf1.0)."""
    ev = with_v(ev) if "v" not in ev.columns else ev
    n_tok = n_tok_of("event_id")
    base = ev.select(
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_id").cast("int").alias("seq"),
        n_tok.alias("n_tok"),
        F.concat(F.lit("src"), F.pmod(F.col("user_id"), F.lit(4))).alias("source"),
        "ts",
        F.col("v").alias("value"),
    )
    return base.repartition("doc_id").select(
        "doc_id",
        "seq",
        F.sequence(F.lit(1), F.col("n_tok")).cast("array<int>").alias("tokens"),
        "n_tok",
        "source",
        "ts",
        "value",
    )


def reference_from_events(ev: DataFrame) -> DataFrame:
    """Right side: per-(source, doc_id, ts) reference vectors from purchase
    events (deduped — as-of right side must be unique per key×ts)."""
    p = ev.where(F.col("event_type") == "purchase")
    deduped = p.groupBy(
        F.concat(F.lit("src"), F.pmod(F.col("user_id"), F.lit(4))).alias("source"),
        F.col("user_id").cast("string").alias("doc_id"),
        "ts",
    ).agg(F.max("value").alias("r0"))
    return deduped.select("source", "doc_id", "ts", F.array("r0").alias("ref_vec"))

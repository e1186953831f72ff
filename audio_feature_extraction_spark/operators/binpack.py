"""n_tok-aware bin-packing of token payloads (SURVEY.md §4.2).

Problem: batching sequences by row count balances *rows*, but the payload
is the ``tokens`` arrays — docs vary 10-1000× in n_tok, so row-balanced
batches are byte-skewed. The reference has the same issue in file-batch
form (batch_size=20 regardless of file length,
`05_dtw_alignment_experiment/dtw_alignment.py:44-45`).

Strategy (fully distributed, one window, no driver collect of data):

1. running payload total per group (``group_cols``, e.g. ``source``) in a
   cheap deterministic order (``order_cols``) — the classic prefix-scan
   window, parallel across groups;
2. ``bin_id = floor(cum_payload / target_payload_per_bin)`` — consecutive
   rows pack greedily into bins of ~equal *payload*, not equal row count.
   Bin ids are local to their group: (group, bin) names a bin.

Determinism: bin assignment is a pure function of (group, order_cols,
payload), so two runs at different parallelism produce identical bin
contents — tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BIN_COL = "__bin_id"


def with_bin_id(
    df: DataFrame,
    group_cols: list[str],
    payload_col: str = "n_tok",
    order_cols: list[str] | None = None,
    target_payload_per_bin: int = 4_000_000,
    out: str = BIN_COL,
) -> DataFrame:
    """Assign a payload-balanced bin id, local to each ``group_cols`` group.

    ``target_payload_per_bin`` is in payload units (tokens ≈ 4 bytes each for
    int32, so 4M tokens ≈ 16 MiB shuffle blocks — small enough to never spill,
    large enough to amortize task overhead)."""
    order_cols = order_cols or ["doc_id", "seq"]
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    # coalesce: NULL payloads count as 0 (a NULL in the running sum would
    # poison every later row's bin to NULL); greatest(cum-1, 0): leading
    # zero-payload rows have cum=0 and would otherwise floor to a stray
    # bin -1
    cum = F.sum(F.coalesce(F.col(payload_col).cast("long"), F.lit(0))).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(
        out,
        F.floor(
            F.greatest(cum - F.lit(1), F.lit(0))
            / F.lit(int(target_payload_per_bin))
        ).cast("int"),
    )


# ------------------------------------------------- deterministic epoch order


def epoch_order_key(seed: int, *cols) -> F.Column:
    """Seeded deterministic permutation key for training order: the
    portable md5-60 hash of ``seed:col1:col2:...``. A pure projection —
    the same (seed, batch identity) maps to the same key on any engine,
    any partition layout, any corpus size — so an epoch's order is
    reproducible and resumable, and two seeds give independent
    permutations. Bit-stable counterpart of ``xxhash64(seed, ...)``
    (which DuckDB cannot replay)."""
    from audio_feature_extraction_spark.operators.dedup import (
        portable_word_hash,
    )

    parts: list[F.Column] = [F.lit(str(int(seed)))]
    for c in cols:
        parts.append(F.lit(":"))
        # NULL identity components would NULL the whole concat (and the
        # key) — map them to a sentinel so every batch still gets a
        # deterministic position
        parts.append(
            F.coalesce(
                (F.col(c) if isinstance(c, str) else c).cast("string"),
                F.lit("\x00null"),
            )
        )
    return portable_word_hash(F.concat(*parts))


def pack_sequences(
    df: DataFrame,
    group_cols: list[str],
    tokens_col: str = "tokens",
    payload_col: str = "n_tok",
    order_cols: list[str] | None = None,
    target_payload_per_bin: int = 4_000_000,
    out_bin: str = BIN_COL,
) -> DataFrame:
    """The trainer-facing PACKED batch: per bin, the member sequences'
    token arrays concatenated in deterministic order plus the start
    offset of each member — the (input_ids, document boundaries) pair a
    sequence-packing data loader feeds attention-mask construction.
    Returns one row per (group_cols…, bin): ``tokens`` (flattened
    array), ``boundaries`` (start offset per member, first = 0),
    ``n_docs``, ``n_tok``.

    Order & determinism: members order by ``order_cols`` (the same order
    the bin assignment's prefix scan used), so the packed stream is a
    pure function of the data — same bytes at any parallelism, the
    property `_q_packed_tokens`' md5 fingerprints gate. HARD
    PRECONDITION (inherited from :func:`with_bin_id`'s prefix scan and
    shared with `take_per_stratum`): ``order_cols`` must be unique per
    row within a group — with ties, both the running sum and the member
    sort become partition-order dependent and the determinism contract
    breaks silently.

    Plan shape: bin assignment = :func:`with_bin_id` (one window);
    boundaries come from a second running-sum window over the SAME
    (group, order) partitioning (no extra exchange class); the pack is
    ONE groupBy(bin) collect_list of (order, offset, tokens) structs —
    rows after it are bins, each ≤ target_payload tokens by
    construction, so collect_list state is bounded by the bin cap, not
    the corpus."""
    order_cols = order_cols or ["doc_id", "seq"]
    packed = with_bin_id(
        df,
        payload_col=payload_col,
        order_cols=order_cols,
        group_cols=group_cols,
        target_payload_per_bin=target_payload_per_bin,
        out=out_bin,
    )
    keys = list(group_cols) + [out_bin]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_off = packed.withColumn(
        "_off",
        (F.sum(F.col(payload_col)).over(cum) - F.col(payload_col)).cast(
            "long"
        ),
    )
    member = F.struct(
        *[F.col(c) for c in order_cols],
        F.col("_off").alias("_o"),
        F.col(tokens_col).alias("_t"),
    )
    agg = with_off.groupBy(*keys).agg(
        F.array_sort(F.collect_list(member)).alias("_m"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(payload_col).cast("long").alias("n_tok"),
    )
    return agg.select(
        *keys,
        F.flatten(F.transform("_m", lambda m: m["_t"])).alias("tokens"),
        F.transform("_m", lambda m: m["_o"]).alias("boundaries"),
        "n_docs",
        "n_tok",
    )

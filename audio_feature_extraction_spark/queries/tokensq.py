"""Token-array operators: slicing, bin-packing, packed batches.

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from audio_feature_extraction_spark.operators.binpack import with_bin_id
from .common import _t
from .flagship import _sequences_from_events


# --------------------------------------------------------------------------
# token-array ops (O2 + bit-identity over the input_hint schema)
# --------------------------------------------------------------------------


def _q_token_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence truncation + array integrity (O2,
    feature_extraction_for_student.py:27): head slice, last element, exact
    int sum — all computed from the actual tokens array so any corruption
    in the array path shows up against the closed-form oracle."""
    seq = _sequences_from_events(spark, sf_dir)
    return seq.select(
        "doc_id",
        "seq",
        "n_tok",
        F.concat_ws(
            ",", F.slice("tokens", 1, F.least(F.lit(8), F.col("n_tok")))
        ).alias("head_csv"),
        F.try_element_at("tokens", F.lit(-1)).alias("tok_last"),
        F.aggregate(
            "tokens", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("tok_sum"),
    )

_SQL_TOKEN_SLICE = """
WITH b AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         CAST(event_id AS INT) AS seq,
         CAST((event_id % 31) + 2 AS INT) AS n_tok
  FROM events)
SELECT doc_id, seq, n_tok,
  array_to_string(range(1, LEAST(8, n_tok) + 1), ',') AS head_csv,
  n_tok AS tok_last,
  CAST(n_tok AS BIGINT) * (n_tok + 1) // 2 AS tok_sum
FROM b
"""

BIN_CAP = 20_000

def _q_binpack_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    out = with_bin_id(
        d,
        payload_col="n_chars",
        order_cols=["doc_id"],
        group_cols=["lang"],
        target_payload_per_bin=BIN_CAP,
        out="bin_id",
    )
    return out.select("doc_id", "lang", "bin_id")

_SQL_BINPACK_ASSIGN = f"""
SELECT doc_id, lang,
  CAST(FLOOR(GREATEST(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - 1, 0)
/ {BIN_CAP}) AS INT) AS bin_id
FROM documents
"""

def _q_packed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-shape report over the bin-packed corpus: per (lang, bin), doc
    count, payload total, fill ratio vs the bin cap, and the ordered member
    list — the manifest a downstream trainer reads to schedule batches."""
    d = _t(spark, sf_dir, "documents")
    packed = with_bin_id(
        d,
        payload_col="n_chars",
        order_cols=["doc_id"],
        group_cols=["lang"],
        target_payload_per_bin=BIN_CAP,
        out="bin_id",
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("payload"),
        F.round(F.sum("n_chars") / F.lit(BIN_CAP), 6).alias("fill_ratio"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("members"),
    )

_SQL_PACKED_ROLLUP = f"""
WITH packed AS (
  SELECT doc_id, lang, n_chars,
    CAST(FLOOR(GREATEST(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - 1, 0)
/ {BIN_CAP}) AS INT) AS bin_id
  FROM documents)
SELECT lang, bin_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS payload,
  ROUND(SUM(n_chars) / {BIN_CAP}, 6) AS fill_ratio,
  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
FROM packed GROUP BY lang, bin_id
"""

PACK_CAP = 512  # tokens per packed training batch (n_tok is 2..32 here)

def _q_packed_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainer-facing packed batches: bin-pack the pre-tokenized sequences
    by cumulative n_tok per source, then emit per (source, bin) the packed
    stream's integrity fingerprint — md5 over the concatenated token CSVs in
    (doc_id, seq) order — plus row/token totals. The fingerprint is the
    per-partition lineage checksum a resumable 10^12-sequence run verifies
    against (north rule: per-partition lineage manifests; the checkpoint
    sink computes the same kind of digest)."""
    seq = _sequences_from_events(spark, sf_dir)
    packed = with_bin_id(
        seq,
        payload_col="n_tok",
        order_cols=["doc_id", "seq"],
        group_cols=["source"],
        target_payload_per_bin=PACK_CAP,
        out="bin_id",
    )
    csv = F.array_join(F.col("tokens").cast("array<string>"), ",")
    return (
        packed.withColumn("_csv", csv)
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("n_tok").cast("long").alias("batch_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("doc_id"), F.col("seq"), F.col("_csv")
                                )
                            )
                        ),
                        lambda s: s["_csv"],
                    ),
                    ",",
                )
            ).alias("pack_md5"),
        )
    )

_SQL_PACKED_TOKENS = f"""
WITH s AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         CAST(event_id AS INT) AS seq,
         CAST(event_id % 31 + 2 AS INT) AS n_tok,
         'src' || CAST(user_id % 4 AS VARCHAR) AS source
  FROM events),
packed AS (
  SELECT *,
    CAST(FLOOR(GREATEST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id, seq
                                 ROWS UNBOUNDED PRECEDING) - 1, 0)
/ {PACK_CAP}) AS INT) AS bin_id,
    array_to_string(list_transform(generate_series(1, n_tok),
                                   x -> CAST(x AS VARCHAR)), ',') AS csv
  FROM s)
SELECT source, bin_id,
  CAST(COUNT(*) AS BIGINT) AS n_seqs,
  CAST(SUM(n_tok) AS BIGINT) AS batch_tokens,
  md5(string_agg(csv, ',' ORDER BY doc_id, seq)) AS pack_md5
FROM packed GROUP BY source, bin_id
"""


# --------------------------------------------------------------------------
# BPE tokenizer-training merge loop (VERDICT r05 #3)
# --------------------------------------------------------------------------

_BPE_N_MERGES = 8

def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary learning over the documents corpus: 8 iterative
    most-frequent-adjacent-pair merges (operators/tokenize.py). ONE corpus
    scan into the word-frequency table, then the whole merge loop in one
    lazy grouped-map kernel over that vocabulary-bounded table, with a
    deterministic (count DESC, left, right) argmax; the builder runs no
    job beyond the table read. The DuckDB oracle replays all 8 rounds as
    unrolled window CTEs (the ann_recall_fitted pattern)."""
    from audio_feature_extraction_spark.operators.tokenize import bpe_learn

    d = _t(spark, sf_dir, "documents")
    return bpe_learn(d, "text", _BPE_N_MERGES)

def _round_cte(r: int) -> str:
    """One unrolled greedy-merge round: s{r} from s{r-1} + t{r} (the
    argmax pair). Window layers are stacked subqueries (windows cannot
    nest); positions re-pack each round so row-adjacency == pos-adjacency
    for the run-parity greedy rule."""
    a, b = f"(SELECT a FROM t{r})", f"(SELECT b FROM t{r})"
    return f"""
s{r} AS MATERIALIZED (
  SELECT word, cnt,
         ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos, s
  FROM (
    SELECT word, cnt, pos,
           CASE WHEN _merged THEN s || {b} ELSE s END AS s,
           lag(_merged) OVER (PARTITION BY word ORDER BY pos) AS _consumed
    FROM (
      SELECT *, (_match AND (pos - _run_start) % 2 = 0) AS _merged
      FROM (
        SELECT *,
          MAX(CASE WHEN _match AND NOT coalesce(_lmatch, FALSE)
                   THEN pos END)
            OVER (PARTITION BY word ORDER BY pos
                  ROWS UNBOUNDED PRECEDING) AS _run_start
        FROM (
          SELECT *,
            lag(_match) OVER (PARTITION BY word ORDER BY pos) AS _lmatch
          FROM (
            SELECT word, cnt, pos, s,
              (s = {a} AND
               lead(s) OVER (PARTITION BY word ORDER BY pos) = {b})
                AS _match
            FROM s{r - 1}))))) 
  WHERE NOT coalesce(_consumed, FALSE))"""

def _sql_bpe_merges() -> str:
    ctes = [
        """wc AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE len(word) > 0 GROUP BY 1)""",
        """s0 AS MATERIALIZED (
  SELECT word, cnt, i - 1 AS pos, substr(word, i, 1) AS s
  FROM wc, LATERAL unnest(generate_series(1, len(word))) AS u(i))""",
    ]
    outs = []
    for r in range(1, _BPE_N_MERGES + 1):
        ctes.append(f"""t{r} AS MATERIALIZED (
  SELECT a, b, SUM(cnt) AS n
  FROM (SELECT word, cnt, s AS a,
               lead(s) OVER (PARTITION BY word ORDER BY pos) AS b
        FROM s{r - 1})
  WHERE b IS NOT NULL GROUP BY 1, 2
  ORDER BY n DESC, a, b LIMIT 1)""")
        if r < _BPE_N_MERGES:
            ctes.append(_round_cte(r).strip())
        outs.append(
            f"SELECT CAST({r} AS INTEGER) AS merge_round, a AS left_sym, "
            f"b AS right_sym, a || b AS merged, CAST(n AS BIGINT) AS "
            f"pair_count FROM t{r}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(outs)


# --------------------------------------------------------------------------
# deterministic epoch shuffle of packed batches (VERDICT r05 #6)
# --------------------------------------------------------------------------

_EPOCH_SEEDS = (41, 42)
_EPOCH_K = 12

def _q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded training-order permutation of the packed batches: per seed,
    the first K batches in md5(seed:source:bin) order — the epoch replay
    manifest. The rank window orders by (key, source, bin_id); Spark 4's
    map-side WindowGroupLimit prunes to K per task, so no task ever sorts
    more than K rows (the same shape as top_ngrams_by_source)."""
    from pyspark.sql import Window
    from audio_feature_extraction_spark.operators.binpack import (
        epoch_order_key,
    )

    seq = _sequences_from_events(spark, sf_dir)
    packed = with_bin_id(
        seq,
        payload_col="n_tok",
        order_cols=["doc_id", "seq"],
        group_cols=["source"],
        target_payload_per_bin=PACK_CAP,
        out="bin_id",
    )
    batches = packed.groupBy("source", "bin_id").agg(
        F.sum("n_tok").cast("long").alias("batch_tokens")
    )
    parts = []
    for seed in _EPOCH_SEEDS:
        key = epoch_order_key(seed, "source", "bin_id")
        w = Window.orderBy("order_key", "source", "bin_id")
        parts.append(
            batches.withColumn("order_key", key)
            .withColumn("epoch_rank", F.row_number().over(w))
            .where(F.col("epoch_rank") <= _EPOCH_K)
            .select(
                F.lit(seed).cast("int").alias("seed"),
                F.col("epoch_rank").cast("int").alias("epoch_rank"),
                "source",
                F.col("bin_id").cast("int").alias("bin_id"),
                "batch_tokens",
                "order_key",
            )
        )
    return parts[0].unionByName(parts[1])

def _sql_epoch_shuffle() -> str:
    h = (
        "CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || source "
        "|| ':' || CAST(bin_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    )
    seeds = ", ".join(f"({s})" for s in _EPOCH_SEEDS)
    return f"""
WITH s AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         CAST(event_id AS INT) AS seq,
         CAST(event_id % 31 + 2 AS INT) AS n_tok,
         'src' || CAST(user_id % 4 AS VARCHAR) AS source
  FROM events),
packed AS (
  SELECT *,
    CAST(FLOOR(GREATEST(SUM(n_tok) OVER (PARTITION BY source
                                 ORDER BY doc_id, seq
                                 ROWS UNBOUNDED PRECEDING) - 1, 0)
/ {PACK_CAP}) AS INT) AS bin_id
  FROM s),
batches AS (
  SELECT source, bin_id, CAST(SUM(n_tok) AS BIGINT) AS batch_tokens
  FROM packed GROUP BY 1, 2),
keyed AS (
  SELECT seed, source, bin_id, batch_tokens, {h} AS order_key
  FROM batches, (VALUES {seeds}) AS sd(seed)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY seed
                               ORDER BY order_key, source, bin_id) AS rk
  FROM keyed)
SELECT CAST(seed AS INTEGER) AS seed, CAST(rk AS INTEGER) AS epoch_rank,
       source, bin_id, batch_tokens, order_key
FROM ranked WHERE rk <= {_EPOCH_K}
"""


def _q_bpe_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of the tokenizer: after the 8 learned merges, the
    resulting subword vocabulary with per-token stats — in how many
    distinct words the token appears and its corpus occurrence count
    (token occurrences x word frequency). Aggregates the final symbol
    table that bpe_learn(with_symbols=True) emits from a second kernel
    over the same word-count table (one corpus scan, no builder job);
    the oracle extends the unrolled merge-round CTEs with the final
    aggregation."""
    from audio_feature_extraction_spark.operators.tokenize import bpe_learn

    d = _t(spark, sf_dir, "documents")
    _, syms = bpe_learn(d, "text", _BPE_N_MERGES, with_symbols=True)
    return syms.groupBy(F.col("s").alias("token")).agg(
        F.count_distinct("word").alias("n_words"),
        F.sum("cnt").cast("long").alias("corpus_count"),
    )

def _sql_bpe_vocab_stats() -> str:
    ctes = [
        """wc AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE len(word) > 0 GROUP BY 1)""",
        """s0 AS MATERIALIZED (
  SELECT word, cnt, i - 1 AS pos, substr(word, i, 1) AS s
  FROM wc, LATERAL unnest(generate_series(1, len(word))) AS u(i))""",
    ]
    for r in range(1, _BPE_N_MERGES + 1):
        ctes.append(f"""t{r} AS MATERIALIZED (
  SELECT a, b, SUM(cnt) AS n
  FROM (SELECT word, cnt, s AS a,
               lead(s) OVER (PARTITION BY word ORDER BY pos) AS b
        FROM s{r - 1})
  WHERE b IS NOT NULL GROUP BY 1, 2
  ORDER BY n DESC, a, b LIMIT 1)""")
        ctes.append(_round_cte(r).strip())
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT s AS token,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words,
       CAST(SUM(cnt) AS BIGINT) AS corpus_count
FROM s{_BPE_N_MERGES} GROUP BY 1"""
    )


def _q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONCRETE packed batch (binpack.pack_sequences): per (source,
    bin) the flattened token stream and per-member start offsets — what a
    sequence-packing data loader actually ships. Gated as hashable
    projections (md5 of the token CSV, boundaries as CSV) per the house
    convention for array payloads; the real array output is
    pytest-verified against a pandas reference."""
    from audio_feature_extraction_spark.operators.binpack import (
        pack_sequences,
    )

    seq = _sequences_from_events(spark, sf_dir)
    out = pack_sequences(
        seq,
        tokens_col="tokens",
        payload_col="n_tok",
        order_cols=["doc_id", "seq"],
        group_cols=["source"],
        target_payload_per_bin=PACK_CAP,
        out_bin="bin_id",
    )
    return out.select(
        "source",
        F.col("bin_id").cast("int").alias("bin_id"),
        F.md5(F.array_join(F.col("tokens").cast("array<string>"), ","))
        .alias("tokens_md5"),
        F.array_join(F.col("boundaries").cast("array<string>"), ",").alias(
            "boundaries_csv"
        ),
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_tok",
    )

_SQL_PACKED_SEQUENCES = f"""
WITH s AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         CAST(event_id AS INT) AS seq,
         CAST(event_id % 31 + 2 AS INT) AS n_tok,
         'src' || CAST(user_id % 4 AS VARCHAR) AS source
  FROM events),
packed AS (
  SELECT *,
    CAST(FLOOR(GREATEST(SUM(n_tok) OVER (PARTITION BY source
                                 ORDER BY doc_id, seq
                                 ROWS UNBOUNDED PRECEDING) - 1, 0)
/ {PACK_CAP}) AS INT) AS bin_id,
    array_to_string(list_transform(generate_series(1, n_tok),
                                   x -> CAST(x AS VARCHAR)), ',') AS csv
  FROM s),
offs AS (
  SELECT *,
    SUM(n_tok) OVER (PARTITION BY source, bin_id ORDER BY doc_id, seq
                     ROWS UNBOUNDED PRECEDING) - n_tok AS off
  FROM packed)
SELECT source, bin_id,
  md5(string_agg(csv, ',' ORDER BY doc_id, seq)) AS tokens_md5,
  string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id, seq)
    AS boundaries_csv,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS n_tok
FROM offs GROUP BY source, bin_id
"""


QUERIES = {
    "token_slice": (_q_token_slice, _SQL_TOKEN_SLICE),
    "binpack_assign": (_q_binpack_assign, _SQL_BINPACK_ASSIGN),
    "packed_rollup": (_q_packed_rollup, _SQL_PACKED_ROLLUP),
    "packed_tokens": (_q_packed_tokens, _SQL_PACKED_TOKENS),
    "bpe_merges": (_q_bpe_merges, _sql_bpe_merges()),
    "epoch_shuffle": (_q_epoch_shuffle, _sql_epoch_shuffle()),
    "bpe_vocab_stats": (_q_bpe_vocab_stats, _sql_bpe_vocab_stats()),
    "packed_sequences": (_q_packed_sequences, _SQL_PACKED_SEQUENCES),
}

"""Deterministic stratified and fixed-size sampling.

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from audio_feature_extraction_spark.operators import quality as _Q
from .common import _t


_SAMPLE_RATES = {"src0": 0.5, "src1": 0.25, "src2": 0.1}

_SAMPLE_DEFAULT = 0.05

def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source sampling: md5-bucket filter, zero shuffles,
    bit-reproducible across engines and partition layouts."""
    d = _t(spark, sf_dir, "documents")
    out = _Q.stratified_sample(
        d, "doc_id", "source", _SAMPLE_RATES, default_rate=_SAMPLE_DEFAULT
    )
    return out.select("doc_id", "source", "lang", "n_chars")

def _sql_stratified_sample() -> str:
    bucket = (
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        " % 10000"
    )
    # round(), matching quality.stratified_sample's threshold derivation
    cases = " ".join(
        f"WHEN source = '{s}' THEN {round(r * 10000)}"
        for s, r in sorted(_SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE {bucket} < (CASE {cases} ELSE {round(_SAMPLE_DEFAULT * 10000)} END)
"""

_WS_K = 5

def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus draw: A-ES weighted sampling without
    replacement, 5 docs per source with inclusion probability proportional
    to n_chars (operators/quality.py weighted_sample_per_stratum) —
    deterministic on any engine/layout via the md5-derived uniform."""
    d = _t(spark, sf_dir, "documents")
    out = _Q.weighted_sample_per_stratum(
        d, "doc_id", "n_chars", "source", _WS_K
    )
    return out.select(
        "source", "draw_rank", "doc_id", "n_chars", "sample_key"
    )

def _sql_weighted_sample() -> str:
    h = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    u = f"(({h}) + 1) / 1152921504606846976.0"
    return f"""
WITH k AS (
  SELECT source, doc_id, n_chars,
         ln({u}) / CAST(n_chars AS DOUBLE) AS wkey
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0),
r AS (
  SELECT source, doc_id, n_chars, wkey,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY wkey DESC, doc_id)
           AS rk
  FROM k)
SELECT source, CAST(rk AS INT) AS draw_rank, doc_id, n_chars,
       ROUND(wkey, 9) AS sample_key
FROM r WHERE rk <= {_WS_K}
"""

def _q_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size eval-set draw: exactly 3 docs per (source) stratum in
    deterministic md5-hash order — same rows on any engine/layout."""
    d = _t(spark, sf_dir, "documents")
    out = _Q.take_per_stratum(d, "doc_id", "source", 3, out_rank="draw_rank")
    return out.select("source", "draw_rank", "doc_id", "lang")

def _sql_eval_sample() -> str:
    h = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    return f"""
WITH ranked AS (
  SELECT source, doc_id, lang,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS draw_rank
  FROM documents)
SELECT source, CAST(draw_rank AS INT) AS draw_rank, doc_id, lang
FROM ranked WHERE draw_rank <= 3
"""


_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}

def _q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split report (quality.dataset_split):
    md5-bucket range assignment — zero shuffles for the assignment itself,
    stable under corpus growth (a doc's split never flips when other docs
    arrive, the anti-contamination property random splits lack). One
    groupBy(split) for the report: docs, total words, distinct sources."""
    from pyspark.sql import functions as F

    d = _Q.dataset_split(
        _t(spark, sf_dir, "documents"), "doc_id", _SPLIT_FRACS
    )
    return d.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_words"),
        F.count_distinct("source").alias("n_sources"),
    )

def _sql_dataset_split() -> str:
    b = (
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS "
        "BIGINT) % 10000"
    )
    edges, cum = [], 0.0
    for name, frac in _SPLIT_FRACS.items():
        cum += frac
        edges.append((name, round(cum * 10000)))
    edges[-1] = (edges[-1][0], 10000)
    cases = " ".join(f"WHEN {b} < {hi} THEN '{name}'" for name, hi in edges)
    return f"""
SELECT CASE {cases} END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM documents GROUP BY 1
"""


_MIX_ALPHAS = (0.5, 0.75)

def _q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling report: per (source, alpha) the deterministic
    md5-bucket acceptance threshold, kept counts, realized mixture share
    and the p_s^alpha target share.

    Downsampling only: the smallest source keeps 100%, so source s keeps
    at rate r_s = (n_min / n_s)^(1 - alpha) and the kept counts
    k_s = r_s * n_s ∝ n_s^alpha hit the target mixture up to bucket
    quantization. ``accept_threshold = floor(r_s * 10 000)``; a doc is
    kept iff ``hash_bucket(doc_id) < accept_threshold`` — deterministic
    and monotone in the rate (a higher rate only adds docs). For dyadic
    alpha the rate is a nested-sqrt product (``quality.dyadic_pow``),
    so Spark and DuckDB floor the same double.

    Plan shape (ADVICE r06 wording fix, measured r07): the bounded
    per-(source, bucket) histogram (≤ n_sources × 10 000 rows, map-side
    combine) has three consumers and exchange reuse does NOT fire, so
    the corpus scan runs three times — DELIBERATELY unpersisted: the
    scan+agg branches run concurrently and a blocking persist
    materialization measured 0.67 → 2.2 s at sf1.0. At a scale where
    the corpus scan dominates, persist (or checkpoint) the histogram
    instead — it is bounded regardless of corpus size. Adding more
    alphas costs zero extra corpus scans either way. Shares
    use fixed-order float math (running-sum window ordered by source)
    so the doubles are bit-identical in DuckDB."""
    from pyspark.sql import Window, functions as F

    d = _t(spark, sf_dir, "documents")
    b = _Q.hash_bucket(F.col("doc_id"), 10_000)
    hist = (
        d.select(F.col("source"), b.alias("b"))
        .groupBy("source", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    counts = hist.groupBy("source").agg(F.sum("c").alias("n_docs"))
    nmin = counts.agg(F.min("n_docs").alias("_nmin"))
    ratio = F.col("_nmin").cast("double") / F.col("n_docs").cast("double")

    # BOTH alphas' thresholds in one wide rates frame, ONE hist join, ONE
    # conditional-sum agg, then a stack()-unpivot to tidy — the per-alpha
    # branch version cost a second hist scan + broadcast per alpha
    # (measured 2.9 s -> this shape ~1 s at sf0.1; same gated results)
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "source",
        "n_docs",
        *[
            F.floor(_Q.dyadic_pow(ratio, 1.0 - alpha) * F.lit(10_000.0))
            .cast("long")
            .alias(f"_t{i}")
            for i, alpha in enumerate(_MIX_ALPHAS)
        ],
    )
    kept_wide = (
        hist.join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", *[f"_t{i}" for i in range(len(_MIX_ALPHAS))])
        .agg(
            *[
                F.sum(
                    F.when(F.col("b") < F.col(f"_t{i}"), F.col("c"))
                    .otherwise(F.lit(0))
                ).alias(f"_k{i}")
                for i in range(len(_MIX_ALPHAS))
            ]
        )
    )
    stack = ", ".join(
        f"{float(a)}D, _t{i}, _k{i}" for i, a in enumerate(_MIX_ALPHAS)
    )
    tidy = kept_wide.select(
        "source",
        "n_docs",
        F.expr(
            f"stack({len(_MIX_ALPHAS)}, {stack}) AS "
            "(alpha, accept_threshold, kept_docs)"
        ),
    )
    w_run = (
        Window.partitionBy("alpha")
        .orderBy("source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("alpha")
    # target share q_s = n^alpha / sum(n^alpha), summed in FIXED source
    # order (running sum, then its max) so both engines add identically
    # alpha is a per-row column but dyadic_pow needs a python float —
    # branch per alpha value instead
    t = F.when(
        F.col("alpha") == 0.5,
        _Q.dyadic_pow(F.col("n_docs").cast("double"), 0.5),
    ).otherwise(_Q.dyadic_pow(F.col("n_docs").cast("double"), 0.75))
    cum = F.sum(t).over(w_run)
    tot_t = F.max(cum).over(w_all)
    tot_kept = F.sum("kept_docs").over(w_all)
    return tidy.select(
        "source",
        "alpha",
        "n_docs",
        "accept_threshold",
        F.col("kept_docs").cast("long").alias("kept_docs"),
        F.round(F.col("kept_docs").cast("double") / tot_kept, 6).alias(
            "kept_share"
        ),
        F.round(t / tot_t, 6).alias("target_share"),
    )

def _sql_source_mixture() -> str:
    from audio_feature_extraction_spark.operators.quality import (
        dyadic_pow_sql,
    )

    bucket = (
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS "
        "BIGINT) % 10000"
    )
    ratio = "(CAST(nmin AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    branches = []
    for alpha in _MIX_ALPHAS:
        r = dyadic_pow_sql(ratio, 1.0 - alpha)
        tgt = dyadic_pow_sql("CAST(n_docs AS DOUBLE)", alpha)
        branches.append(f"""
  SELECT source, CAST({alpha} AS DOUBLE) AS alpha, n_docs,
         CAST(FLOOR({r} * 10000.0) AS BIGINT) AS accept_threshold,
         {tgt} AS t
  FROM counts, nmin""")
    union = " UNION ALL ".join(branches)
    return f"""
WITH hist AS (
  SELECT source, {bucket} AS b, COUNT(*) AS c
  FROM documents GROUP BY 1, 2),
counts AS (SELECT source, SUM(c) AS n_docs FROM hist GROUP BY 1),
nmin AS (SELECT MIN(n_docs) AS nmin FROM counts),
rates AS ({union}),
kept AS (
  SELECT r.source, r.alpha, r.n_docs, r.accept_threshold, r.t,
         SUM(CASE WHEN h.b < r.accept_threshold THEN h.c ELSE 0 END)
           AS kept_docs
  FROM rates r JOIN hist h USING (source)
  GROUP BY 1, 2, 3, 4, 5),
shares AS (
  SELECT *,
    SUM(t) OVER (PARTITION BY alpha ORDER BY source
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(kept_docs) OVER (PARTITION BY alpha) AS tot_kept
  FROM kept)
SELECT source, alpha, CAST(n_docs AS BIGINT) AS n_docs, accept_threshold,
       CAST(kept_docs AS BIGINT) AS kept_docs,
       ROUND(CAST(kept_docs AS DOUBLE) / tot_kept, 6) AS kept_share,
       ROUND(t / MAX(cum) OVER (PARTITION BY alpha), 6) AS target_share
FROM shares
"""


_DECON_N = 5
_DECON_MIN_OVERLAP = 2

def _q_split_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split decontamination (VERDICT r05 #2): 5-gram shingle
    overlap of train-split docs against val/test docs of the SAME corpus
    under the standard 80/10/10 hash split — the self-contamination
    integrity gate composing dataset_split ∘ contamination. Inverted-index
    equi-join on the shingle hash, never all-pairs; the eval split is
    re-derived on the output by the same pure hash (no join)."""
    from pyspark.sql import functions as F

    d = _t(spark, sf_dir, "documents")
    out = _Q.split_decontamination(
        d, "doc_id", "text", _SPLIT_FRACS,
        n=_DECON_N, min_overlap=_DECON_MIN_OVERLAP,
    )
    return out.select(
        "eval_doc_id", "eval_split", "train_doc_id",
        F.col("shared_shingles").cast("long").alias("shared_shingles"),
    )

def _sql_split_decontamination() -> str:
    from audio_feature_extraction_spark.queries.dedupq import _duck_word_hash

    n = _DECON_N
    b = (
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS "
        "BIGINT) % 10000"
    )
    edges, cum = [], 0.0
    for name, frac in _SPLIT_FRACS.items():
        cum += frac
        edges.append((name, round(cum * 10000)))
    edges[-1] = (edges[-1][0], 10000)
    cases = " ".join(f"WHEN {b} < {hi} THEN '{name}'" for name, hi in edges)
    gram = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    ecase = cases.replace("md5(CAST(doc_id", "md5(CAST(eval_doc_id")
    return f"""
WITH sp AS (
  SELECT doc_id, CASE {cases} END AS split FROM documents),
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, {_duck_word_hash(gram)} AS h
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - {n - 1})) AS i
        FROM w)),
tr AS (SELECT sh.doc_id AS tid, h FROM sh JOIN sp USING (doc_id)
       WHERE split = 'train'),
ev AS (SELECT sh.doc_id AS eid, h FROM sh JOIN sp USING (doc_id)
       WHERE split != 'train'),
pairs AS (
  SELECT eid AS eval_doc_id, tid AS train_doc_id, COUNT(*) AS shared
  FROM ev JOIN tr USING (h) GROUP BY 1, 2)
SELECT eval_doc_id, CASE {ecase} END AS eval_split,
       train_doc_id, CAST(shared AS BIGINT) AS shared_shingles
FROM pairs WHERE shared >= {_DECON_MIN_OVERLAP}
"""


QUERIES = {
    "stratified_sample": (_q_stratified_sample, _sql_stratified_sample()),
    "weighted_sample": (_q_weighted_sample, _sql_weighted_sample()),
    "eval_sample": (_q_eval_sample, _sql_eval_sample()),
    "dataset_split": (_q_dataset_split, _sql_dataset_split()),
    "source_mixture": (_q_source_mixture, _sql_source_mixture()),
    "split_decontamination": (
        _q_split_decontamination, _sql_split_decontamination()
    ),
}

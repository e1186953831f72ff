"""Corpus-curation operators for large-scale training-data pipelines:
repetition signals, benchmark-contamination detection, and deterministic
stratified sampling.

Reference analog: the deduction-style quality gating in
`04_feature_extraction_experiment/feature_extractor.py:220-227` (score
penalties for degenerate inputs) — generalized here to the standard
web-corpus repetition heuristics (fraction of duplicated n-grams, dominance
of the most frequent word) used to drop boilerplate/spam before training.

Scale notes (100 TB):
- the repetition report (:func:`repetition_stats`) is one posexplode +
  lead-window exchange on hash(doc); the trigram→bigram→unigram rollups and
  per-doc joins all reuse that partitioning (zero further exchanges). The
  per-row formulations (:func:`duplicate_ngram_fraction`,
  :func:`top_word_stats`) are kept as the references tests compare it
  against; their higher-order lambdas are interpreted in Spark, so no
  bulk path uses them.
- contamination is an inverted-index equi-join on shingle hashes with the
  (small) benchmark side broadcast — never an all-pairs comparison; per-doc
  overlap counts come from one more keyed agg.
- stratified sampling is a deterministic md5-bucket filter — embarrassingly
  parallel, no shuffle, reproducible across engines (same rows sampled in
  DuckDB / any SQL engine, unlike Spark's ``sample()`` which is
  partition-layout dependent).

Every primitive routes hashes through the portable md5-derived int64
(:func:`dedup.portable_word_hash`) so the DuckDB oracles reproduce values
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.dedup import (
    portable_word_hash,
    words,
)

def duplicate_ngram_fraction(text_col: str, n: int) -> Column:
    """Fraction of the doc's word n-grams that are repeats of an earlier
    occurrence: ``1 - distinct/total``. High values flag boilerplate and
    generated spam. NULL for docs with < n words (no grams to judge).

    Grams are struct tuples, not joined strings: distinct-counting needs no
    string building (4× cheaper in the codegen hot loop), and since words
    come from a space split, struct equality == joined-string equality.
    Inside the ``size >= n`` guard every ``element_at`` index is in bounds,
    so the expression is ANSI-safe."""
    w = words(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.struct(
            *[F.element_at(w, i + j).alias(f"t{j}") for j in range(n)]
        ),
    )
    total = F.size(w) - (n - 1)
    return F.when(
        F.size(w) >= n,
        F.lit(1.0) - F.size(F.array_distinct(grams)) / total,
    ).otherwise(F.lit(None).cast("double"))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-pass repetition report per doc: duplicated bigram/trigram
    fractions plus most-frequent-word dominance.

    Plan shape (the 100 TB design): posexplode + lead-window costs ONE
    exchange on hash(id). Every later aggregation groups on a key set that
    STARTS with id, and hash(id) satisfies ClusteredDistribution for all of
    them, so the trigram → bigram → unigram rollup chain and the final
    per-doc joins add ZERO further exchanges. The per-row alternative (array
    ``transform`` lambdas) is CodegenFallback-interpreted in Spark and
    measured ~10× slower despite doing no shuffle at all."""
    # No exchange before the explode: one by id measured 1.76x slower at
    # sf0.1 and neutral at sf1.0.
    wdf = df.select(
        F.col(id_col), F.posexplode(words(text_col)).alias("i", "w0")
    )
    win = Window.partitionBy(id_col).orderBy("i")
    g = wdf.select(
        F.col(id_col),
        "w0",
        F.lead("w0", 1).over(win).alias("w1"),
        F.lead("w0", 2).over(win).alias("w2"),
    )
    t3 = g.groupBy(id_col, "w0", "w1", "w2").agg(F.count(F.lit(1)).alias("c3"))
    t2 = t3.groupBy(id_col, "w0", "w1").agg(F.sum("c3").alias("c2"))
    t1 = t2.groupBy(id_col, "w0").agg(F.sum("c2").alias("c1"))

    tri = t3.where(F.col("w2").isNotNull()).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("tri_distinct"),
        F.sum("c3").alias("tri_total"),
    )
    bi = t2.where(F.col("w1").isNotNull()).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("bi_distinct"),
        F.sum("c2").alias("bi_total"),
    )
    wc = t1.groupBy(id_col).agg(F.sum("c1").alias("wc"))
    top = (
        t1.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.desc("c1"), F.asc("w0"))
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            F.col(id_col),
            F.col("w0").alias("top_word"),
            F.col("c1").alias("top_word_count"),
        )
    )
    return (
        wc.join(bi, id_col, "left")
        .join(tri, id_col, "left")
        .join(top, id_col)
        .select(
            F.col(id_col),
            F.round(
                F.lit(1.0) - F.col("bi_distinct") / F.col("bi_total"), 6
            ).alias("dup2_frac"),
            F.round(
                F.lit(1.0) - F.col("tri_distinct") / F.col("tri_total"), 6
            ).alias("dup3_frac"),
            "top_word",
            "top_word_count",
            F.round(F.col("top_word_count") / F.col("wc"), 6).alias(
                "top_word_frac"
            ),
        )
    )


def top_word_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Most-frequent-word dominance per doc: the word, its count, and its
    share of the doc's tokens. One (doc, word) shuffle with map-side
    combine, then a per-doc top-1 window; ties break lexicographically so
    the result is deterministic and oracle-reproducible."""
    wc = df.select(id_col, F.size(words(text_col)).alias("wc"))
    counts = (
        df.select(id_col, F.explode(words(text_col)).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    win = Window.partitionBy(id_col).orderBy(F.desc("n"), F.asc("word"))
    top = (
        counts.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return top.join(wc, id_col).select(
        id_col,
        F.col("word").alias("top_word"),
        F.col("n").alias("top_word_count"),
        F.round(F.col("n") / F.col("wc"), 6).alias("top_word_frac"),
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark-contamination check: count, per corpus doc, how many
    DISTINCT word n-gram shingles it shares with any benchmark doc.

    Plan: both sides shingle to (doc, hash) with per-doc distinct (via the
    codegen posexplode/lead plan in :func:`dedup.shingles` — not interpreted
    array lambdas), the benchmark's hash set collapses to DISTINCT hashes
    and is broadcast, the corpus side inner-joins on hash (inverted index,
    no cross product) and re-aggregates per doc. Returns (id, overlap) for
    docs with ``overlap >= min_overlap``."""
    from audio_feature_extraction_spark.operators.dedup import shingles

    corpus_h = shingles(corpus, id_col, text_col, n).select(
        F.col(id_col), portable_word_hash(F.col("shingle")).alias("h")
    )
    bench_hashes = F.broadcast(
        shingles(benchmark, id_col, text_col, n, distinct=False)
        .select(portable_word_hash(F.col("shingle")).alias("h"))
        .distinct()
    )
    return (
        corpus_h.join(bench_hashes, "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("overlap"))
        .where(F.col("overlap") >= min_overlap)
    )


def hash_bucket(col: Column, buckets: int = 10_000) -> Column:
    """Deterministic, engine-portable bucket in [0, buckets): md5 of the
    value's string form → int64 → mod. The sampling primitive — the same
    row lands in the same bucket on any engine and any partition layout."""
    return F.pmod(
        portable_word_hash(col.cast("string")), F.lit(buckets)
    ).cast("int")


def dataset_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float] | None = None,
    buckets: int = 10_000,
    out: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the key's md5 hash-bucket
    falls into cumulative fraction ranges (dict order = range order).
    Pure projection — zero shuffles, reproducible on any engine and
    partition layout, and STABLE UNDER CORPUS GROWTH: a document's split
    never changes when other documents arrive or depart, the property
    random splits lack and the one that keeps eval sets uncontaminated
    across pipeline re-runs. Fractions are quantized to ``buckets`` like
    :func:`stratified_sample` (round, not truncate); they must sum to 1
    within one bucket's tolerance."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    cum, edges = 0.0, []
    for name, frac in fractions.items():
        if not 0.0 < frac <= 1.0:
            raise ValueError(
                f"fraction for {name!r} must be in (0, 1], got {frac}"
            )
        cum += frac
        hi = round(cum * buckets)
        if edges and hi <= edges[-1][1]:
            raise ValueError(
                f"fraction for {name!r} ({frac}) quantizes to an empty "
                f"bucket range at buckets={buckets}; use more buckets or "
                "a larger fraction"
            )
        edges.append((name, hi))
    if abs(edges[-1][1] - buckets) > 1:
        raise ValueError(
            f"fractions sum to {cum}, expected 1.0 (±1 bucket)"
        )
    edges[-1] = (edges[-1][0], buckets)  # close the range exactly
    b = hash_bucket(F.col(key_col), buckets)
    # chained WHEN in range order: each row takes the FIRST range whose
    # upper edge exceeds its bucket (same CASE shape as the SQL oracle)
    expr = None
    for name, hi in edges:
        cond = b < F.lit(hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    return df.withColumn(out, expr)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    buckets: int = 10_000,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its key's hash
    bucket falls below ``rate * buckets`` for its stratum. Unlike
    ``DataFrame.sample`` this is exactly reproducible (pure filter, no RNG,
    no dependence on partitioning) and needs zero shuffles."""
    b = hash_bucket(F.col(key_col), buckets)
    # round, not int(): 0.29 * 10000 is 2899.9999999999995 in float — int()
    # would systematically under-sample binary-unrepresentable rates by one
    # bucket against the documented `bucket < rate*buckets` contract
    thresh = F.lit(round(default_rate * buckets))
    for stratum, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(round(rate * buckets))
        ).otherwise(thresh)
    return df.where(b < thresh)


def take_per_stratum(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    n_per_stratum: int,
    out_rank: str | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """EXACT-count deterministic sampling: the first ``n`` rows per stratum
    in md5-hash order of the key. Complements :func:`stratified_sample`
    (rate-based, zero-shuffle) when a fixed-size sample is required (eval
    sets, human-review batches): same rows on every engine and partition
    layout, one shuffle on the stratum key, state per task = one heap of n.

    HARD PRECONDITION: ``key_col`` must be unique per row (or unique per
    (row, tiebreak_col)). With duplicate keys the (hash, key) order has
    exact ties and row_number selection becomes partition-layout dependent,
    breaking the determinism contract. Pass ``tiebreak_col`` (a
    caller-chosen unique column) to restore a total order when keys repeat.

    Scale shape: a single window over (stratum) would sort EVERY row of a
    stratum in one task — the unpartitioned-window trap. Instead a salted
    pre-prune keeps the best n per (stratum, salt) cell in parallel (any
    global top-n row is necessarily a top-n row of its cell), so the final
    per-stratum window ranks at most ``salts × n`` rows."""
    h = portable_word_hash(F.col(key_col).cast("string"))
    order = [h, F.col(key_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    salts = 32
    pre_w = Window.partitionBy(
        strata_col, F.pmod(h, F.lit(salts))
    ).orderBy(*order)
    pruned = (
        df.withColumn("_prk", F.row_number().over(pre_w))
        .where(F.col("_prk") <= n_per_stratum)
        .drop("_prk")
    )
    w = Window.partitionBy(strata_col).orderBy(*order)
    ranked = pruned.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk") <= n_per_stratum
    )
    if out_rank:
        return ranked.withColumnRenamed("_rk", out_rank)
    return ranked.drop("_rk")


def weighted_sample_per_stratum(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    strata_col: str,
    n_per_stratum: int,
    out_rank: str = "draw_rank",
    out_key: str | None = "sample_key",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis A-ES): draw the top-n rows per stratum by the priority key
    ``ln(u) / w`` (descending), where ``u = (md5_60(key) + 1) / 2^60`` is a
    deterministic uniform in (0, 1] and ``w = weight_col > 0``. Ordering by
    ``ln(u)/w`` desc is order-equivalent to the textbook ``u^(1/w)`` desc
    (ln is monotone; division by w > 0 preserves it) while avoiding a
    cross-engine ``pow``. Inclusion probability is proportional to weight —
    the quality-weighted corpus-sampling primitive of a token pipeline
    (sample high-quality docs more, but keep tail diversity).

    Determinism contract: u is pure hash (same draw on any engine/layout);
    the only float op is one ln + one divide, so a cross-engine ulp
    difference could in principle flip the order of two keys within
    ~1e-16 relative — with continuous keys the collision probability is
    negligible, and ties are still broken by ``key_col``.

    HARD PRECONDITION: ``key_col`` unique per row and ``weight_col``
    strictly positive (rows with w <= 0 or NULL are dropped — zero-weight
    rows are never sampled under A-ES anyway).

    Scale shape: same salted pre-prune as :func:`take_per_stratum` — best
    n per (stratum, salt) cell map-side, then a final per-stratum window
    over at most ``salts x n`` rows. Never sorts a whole stratum in one
    task."""
    h = portable_word_hash(F.col(key_col).cast("string"))
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    key = F.log(u) / F.col(weight_col).cast("double")
    base = df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("_wkey", key)
    order = [F.col("_wkey").desc(), F.col(key_col)]
    salts = 32
    pre_w = Window.partitionBy(
        strata_col, F.pmod(h, F.lit(salts))
    ).orderBy(*order)
    pruned = (
        base.withColumn("_prk", F.row_number().over(pre_w))
        .where(F.col("_prk") <= n_per_stratum)
        .drop("_prk")
    )
    w = Window.partitionBy(strata_col).orderBy(*order)
    ranked = pruned.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk") <= n_per_stratum
    )
    ranked = ranked.withColumnRenamed("_rk", out_rank)
    if out_key:
        return ranked.withColumn(out_key, F.round(F.col("_wkey"), 9)).drop(
            "_wkey"
        )
    return ranked.drop("_wkey")


def pow2_length_bucket(n_col: Column) -> Column:
    """Power-of-two length bucket (largest power of two <= n as the bucket
    label): standard sequence-length histogram for batch-shape planning.
    The exponent comes from the binary-string bit length (exact integer),
    NOT ``floor(log2(n))`` — float log2 can straddle engines at exact powers
    of two; ``pow(2.0, k)`` on an exact small k is IEEE-exact everywhere.
    Non-positive lengths land in bucket 0."""
    exp = F.length(F.bin(n_col.cast("long"))) - 1
    return F.when(n_col <= 0, F.lit(0).cast("long")).otherwise(
        F.pow(F.lit(2.0), exp).cast("long")
    )


# ------------------------------------------- source mixing / temperature


def dyadic_pow(x: Column, exponent: float) -> Column:
    """``x ** exponent`` for a DYADIC exponent in [0, 1] (k / 2^m, m <= 12)
    as a product of nested square roots — bit-reproducible across engines.

    IEEE 754 requires sqrt (and *, /) to be correctly rounded, but NOT
    pow: libm pow differs by ulps between the JVM (Spark) and DuckDB, and
    a 1-ulp rate difference can flip a floor()'d acceptance threshold.
    Writing x^(3/4) as sqrt(x) * sqrt(sqrt(x)) keeps every intermediate
    correctly rounded, so both engines produce the identical double.
    Raises for non-dyadic exponents — callers fall back to F.pow and lose
    the cross-engine bit guarantee (document it when they do)."""
    from fractions import Fraction

    if not 0.0 <= exponent <= 1.0:
        raise ValueError(f"exponent must be in [0, 1], got {exponent}")
    fr = Fraction(exponent)  # exact: float -> binary rational
    if fr.denominator > 4096:
        raise ValueError(
            f"exponent {exponent} is not dyadic with denominator <= 2^12; "
            "use F.pow and document the cross-engine ulp caveat"
        )
    if fr == 0:
        return F.lit(1.0)
    if fr == 1:
        # x^1 = x; the bit loop below only terminates for fr < 1 (1 has
        # no finite sum of 1/2^k terms)
        return x
    out = None
    cur = x
    rest = fr
    level = Fraction(1, 2)
    while rest > 0:
        cur = F.sqrt(cur)  # cur = x^(1/2^k) after k iterations
        if rest >= level:
            out = cur if out is None else out * cur
            rest -= level
        level /= 2
    return out


def dyadic_pow_sql(x_sql: str, exponent: float) -> str:
    """The SQL-text twin of :func:`dyadic_pow` (same nested-sqrt product),
    for oracle generation."""
    from fractions import Fraction

    fr = Fraction(exponent)
    if not (0 <= fr <= 1) or fr.denominator > 4096:
        raise ValueError(f"exponent {exponent} not dyadic in [0, 1]")
    if fr == 0:
        return "1.0"
    if fr == 1:
        return f"({x_sql})"
    terms = []
    cur = x_sql
    rest = fr
    level = Fraction(1, 2)
    while rest > 0:
        cur = f"sqrt({cur})"
        if rest >= level:
            terms.append(cur)
            rest -= level
        level /= 2
    return " * ".join(terms)


def split_decontamination(
    df: DataFrame,
    key_col: str,
    text_col: str,
    fractions: dict[str, float] | None = None,
    train_split: str = "train",
    n: int = 5,
    min_overlap: int = 2,
    df_cap: int | None = None,
    buckets: int = 10_000,
) -> DataFrame:
    """Cross-split decontamination: the integrity gate composing
    :func:`dataset_split` with the contamination machinery — word-n-gram
    shingle overlap of TRAIN-split documents against the val/test splits
    of the SAME corpus (self-contamination across the split boundary; the
    external-benchmark form is :func:`contamination_overlap`).

    Returns one row per contaminated (eval doc, train doc) pair:
    ``(eval_<key>, eval_split, train_<key>, shared_shingles)`` with
    ``shared_shingles`` = DISTINCT n-gram shingles the two docs share,
    ``>= min_overlap``. Near-duplicate docs that hash-landed on opposite
    sides of the split boundary are exactly what this surfaces — drop the
    train member (never the eval member: eval sets must stay stable) or
    raise ``min_overlap`` for noisy short-shingle corpora.

    Plan shape (100 TB): the split is a zero-shuffle hash projection;
    both sides shingle via the codegen posexplode/lead plan
    (:func:`dedup.shingles`, per-doc distinct); the overlap is an
    inverted-index equi-join on the 60-bit shingle hash — never all-pairs
    — and one keyed count per pair. The eval split is RE-DERIVED on the
    output by the same pure hash (no join carries it through). ``df_cap``
    drops shingle hashes whose TRAIN doc-frequency exceeds the cap
    (boilerplate floods = join fan-out risk, same insurance as
    :func:`dedup.duplicated_substring_runs`)."""
    from audio_feature_extraction_spark.operators.dedup import shingles

    sp = dataset_split(df, key_col, fractions, buckets=buckets, out="_split")
    train = sp.where(F.col("_split") == train_split)
    ev = sp.where(F.col("_split") != train_split)
    tsh = shingles(train, key_col, text_col, n).select(
        F.col(key_col).alias("_tid"),
        portable_word_hash(F.col("shingle")).alias("_h"),
    )
    esh = shingles(ev, key_col, text_col, n).select(
        F.col(key_col).alias("_eid"),
        portable_word_hash(F.col("shingle")).alias("_h"),
    )
    if df_cap is not None:
        hot = tsh.groupBy("_h").agg(
            F.count(F.lit(1)).alias("_df")
        ).where(F.col("_df") <= df_cap)
        tsh = tsh.join(hot.select("_h"), "_h", "left_semi")
    pairs = (
        esh.join(tsh, "_h")
        .groupBy("_eid", "_tid")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .where(F.col("shared_shingles") >= min_overlap)
    )
    out_e, out_t = f"eval_{key_col}", f"train_{key_col}"
    pairs = pairs.select(
        F.col("_eid").alias(out_e), F.col("_tid").alias(out_t),
        "shared_shingles",
    )
    return dataset_split(
        pairs, out_e, fractions, buckets=buckets, out="eval_split"
    ).select(out_e, "eval_split", out_t, "shared_shingles")

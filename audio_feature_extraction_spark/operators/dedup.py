"""Deduplication operators for training-data pipelines.

Four families, all pure DataFrame ops (no Python in the hot path), all built
as *inverted-index / banded joins* — the shapes that survive 100 TB, never
all-pairs loops:

- exact dedup          hash-groupBy on a canonical key
- n-gram Jaccard       shingle inverted-index join → exact jaccard
- MinHash + LSH        shingle → num_perm minhashes → banded candidate join
                       → exact-jaccard verification of candidates only
- SimHash              56-bit signature from a *portable* md5-derived word
                       hash; near-dup pairs via 8×7-bit band join. Pigeonhole:
                       a pair at hamming ≤ 7 agrees on ≥ 1 band, so recall is
                       exact (not probabilistic) for max_hamming ≤ 7.

Scale notes:
- the shingle join's hot keys are stop-shingles; ``df_cap`` drops shingles
  whose document frequency exceeds the cap (they carry no dedup signal and
  cause the quadratic pair blowup);
- MinHash signatures are computed in ONE hash-aggregate pass (num_perm min()
  aggs over the exploded shingles), not num_perm passes;
- candidate verification joins per-doc shingle *sets* (bounded by doc length),
  never re-scanning the corpus.

The portable word hash (md5 hex → int64) is chosen so the DuckDB oracle can
reproduce signatures bit-for-bit; xxhash64 is used where only Spark needs to
agree with itself (MinHash perms).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SIMHASH_BITS = 56  # portable hash yields 60 usable bits; 8 bands x 7 bits
SIMHASH_BANDS = 8


def portable_word_hash(col: Column) -> Column:
    """md5-derived 60-bit hash reproducible in any SQL engine:
    int64(first 15 hex chars of md5)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def words(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def canonical_key(text_col: str) -> Column:
    """Word-set canonical form: sorted distinct words. Docs equal under it
    are exact duplicates up to word order/multiplicity."""
    return F.array_join(F.array_sort(F.array_distinct(words(text_col))), " ")


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    out: str = "shingle",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per doc: (id, shingle), distinct by default.

    Plan: posexplode + ``lead`` window + ``concat_ws`` — all whole-stage
    codegen. The array formulation (``transform`` building each gram via
    ``slice``/``array_join``) is CodegenFallback-interpreted in Spark and
    measured several-fold slower despite shuffling nothing; here the one
    hash(id) exchange feeds every downstream per-doc aggregation anyway.
    Short docs (< n words) contribute no shingles (their leads are NULL).

    ``distinct=False`` skips the dedup exchange for duplicate-insensitive
    consumers (MinHash: min() over permuted hashes ignores multiplicity)."""
    from pyspark.sql import Window

    # No exchange before the explode: one by id measured 1.46-1.83x slower
    # at sf0.1 across the shingle consumers and neutral at sf1.0.
    wdf = df.select(
        F.col(id_col), F.posexplode(words(text_col)).alias("_i", "_w0")
    )
    win = Window.partitionBy(id_col).orderBy("_i")
    g = wdf.select(
        F.col(id_col),
        "_w0",
        *[F.lead("_w0", j).over(win).alias(f"_w{j}") for j in range(1, n)],
    )
    gram = F.concat_ws(" ", *[F.col(f"_w{j}") for j in range(n)])
    res = g.where(F.col(f"_w{n - 1}").isNotNull()).select(
        F.col(id_col), gram.alias(out)
    )
    return res.distinct() if distinct else res


def positioned_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    out: str = "shingle",
) -> DataFrame:
    """(id, pos, shingle) with ``pos`` = 0-based start-token index — the
    position-keeping twin of :func:`shingles` (same codegen posexplode +
    lead-window plan, one hash(id) exchange, NO distinct: each token
    position contributes exactly one row by construction)."""
    from pyspark.sql import Window

    # No exchange before the explode, for the measured loss in shingles().
    wdf = df.select(
        F.col(id_col), F.posexplode(words(text_col)).alias("_i", "_w0")
    )
    win = Window.partitionBy(id_col).orderBy("_i")
    g = wdf.select(
        F.col(id_col),
        "_i",
        "_w0",
        *[F.lead("_w0", j).over(win).alias(f"_w{j}") for j in range(1, n)],
    )
    gram = F.concat_ws(" ", *[F.col(f"_w{j}") for j in range(n)])
    return g.where(F.col(f"_w{n - 1}").isNotNull()).select(
        F.col(id_col), F.col("_i").cast("long").alias("pos"), gram.alias(out)
    )


def duplicated_substring_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_span_tokens: int = 16,
) -> DataFrame:
    """Substring-level CROSS-document dedup (the Lee et al. 'Deduplicating
    Training Data Makes Language Models Better' primitive, VERDICT r04 #7):
    per document, the maximal token runs in which EVERY k-token shingle
    also occurs in at least one OTHER document — the spans a suffix-array
    dedup would cut. Returns
    ``(id, run_start, run_end, n_shingles, span_tokens)`` with
    ``span_tokens = run_end - run_start + k >= min_span_tokens``
    (run_start/run_end are 0-based start-token indexes of the first/last
    duplicated shingle; all values exact ints).

    Suffix-array-free Spark shape: positioned k-shingles (codegen lead
    window) → portable 60-bit hash → duplicated-hash set = one
    groupBy(hash) keeping ``count(distinct id) >= 2`` (strictly
    cross-document: within-doc repeats are `quality.doc_repetition`'s
    job) → semi-join back → adjacent kept positions merge into maximal
    runs via the pos − row_number islands trick (the per-id window reuses
    the hash(id) partitioning the shingle window already produced). Two
    shuffles total on top of the shingle build: the hash agg and the
    semi-join back.

    At 100 TB: the (id, pos, hash) frame is the same inverted-index shape
    as the jaccard/containment family; a hash collision (2^-60 per pair)
    can only ADD a spurious shingle to the duplicated set.

    No reference analog (the reference corpus is audio); this is the
    training-data-pipeline operator from Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better' (ExactSubstr), re-shaped
    from suffix arrays to the engine's inverted-index machinery."""
    sh = positioned_shingles(df, id_col, text_col, k).select(
        F.col(id_col),
        "pos",
        portable_word_hash(F.col("shingle")).alias("_h"),
    )
    dup = sh.groupBy("_h").agg(
        F.count_distinct(F.col(id_col)).alias("_nd")
    )
    dup = dup.where(F.col("_nd") >= 2)
    kept = sh.join(dup.select("_h"), "_h", "left_semi")
    from pyspark.sql import Window

    win = Window.partitionBy(id_col).orderBy("pos")
    runs = kept.withColumn(
        "_grp", F.col("pos") - F.row_number().over(win)
    )
    return (
        runs.groupBy(F.col(id_col), F.col("_grp"))
        .agg(
            F.min("pos").alias("run_start"),
            F.max("pos").alias("run_end"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .withColumn(
            "span_tokens", F.col("run_end") - F.col("run_start") + F.lit(k)
        )
        .where(F.col("span_tokens") >= F.lit(min_span_tokens))
        .drop("_grp")
    )


# ---------------------------------------------------------------- exact dedup


def exact_dedup(
    df: DataFrame, id_col: str, key: Column | None = None, text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per canonical key with the surviving
    (minimum) id and the duplicate count. One shuffle on the key."""
    key = key if key is not None else canonical_key(text_col)
    return (
        df.select(F.col(id_col), key.alias("dedup_key"))
        .groupBy("dedup_key")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


# --------------------------------------------------------- n-gram Jaccard


def _pair_intersections(
    df: DataFrame, id_col: str, text_col: str, n: int, df_cap: int | None
) -> DataFrame:
    """(id_a, id_b, inter, n_a, n_b) for every doc pair id_a < id_b sharing
    a kept shingle: ``inter`` shared distinct shingles, ``n_a`` / ``n_b``
    each doc's kept-shingle count. Shingles in more than ``df_cap`` docs
    are dropped first (none when None).

    The kept-shingle frame feeds three consumers (sizes, both self-join
    sides) from ONE hash(shingle) exchange: the ``df_cap`` document
    frequency is a window count over that partitioning, the self-join
    needs no other, and the second join side reuses the first side's
    exchange, so the corpus is tokenized and exploded once and nothing is
    cached in the session. The whole stream is shuffled twice, by
    :func:`shingles` (hash(id)) and here (hash(shingle))."""
    from pyspark.sql import Window

    sh = shingles(df, id_col, text_col, n)
    if df_cap is not None:
        n_docs = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        sh = (
            sh.withColumn("_df", n_docs)
            .where(F.col("_df") <= df_cap)
            .select(id_col, "shingle")
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """All pairs with n-gram-shingle Jaccard ≥ threshold, via the inverted
    index: explode shingles → self-join on shingle → count intersections →
    |A∩B| / (|A|+|B|-|A∩B|). Output (id_a, id_b, jaccard), id_a < id_b.
    ``df_cap`` drops stop-shingles (see :func:`_pair_intersections`)."""
    j = _pair_intersections(df, id_col, text_col, n, df_cap).withColumn(
        "jaccard",
        F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
    )
    return j.where(F.col("jaccard") >= F.lit(threshold)).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """DIRECTED containment |A∩B| / |A| ≥ threshold: the asymmetric twin of
    :func:`ngram_jaccard_pairs` that catches SUB-document duplication (a
    short doc embedded verbatim in a longer one scores low on jaccard —
    union-normalized — but 1.0 on containment). Same inverted-index pair
    frame (:func:`_pair_intersections`: one shingle self-join,
    candidate-only arithmetic, ``df_cap`` stop-shingle drop); the per-pair
    intersection is computed once and emitted in both directions. Output
    (id_sub, id_super, containment) with id_sub != id_super."""
    both = _pair_intersections(df, id_col, text_col, n, df_cap)
    directed = both.select(
        F.col("id_a").alias("id_sub"),
        F.col("id_b").alias("id_super"),
        (F.col("inter") / F.col("n_a")).alias("containment"),
    ).unionAll(
        both.select(
            F.col("id_b").alias("id_sub"),
            F.col("id_a").alias("id_super"),
            (F.col("inter") / F.col("n_b")).alias("containment"),
        )
    )
    return directed.where(F.col("containment") >= F.lit(threshold)).select(
        "id_sub", "id_super", F.round("containment", 6).alias("containment")
    )


# --------------------------------------------------------------- MinHash LSH


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 96,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<long>[num_perm]) in one pass: num_perm min() aggs over
    the exploded shingles. The variable-length shingle string is hashed ONCE
    (xxhash64), then perm p = xxhash64(seed+p, base) re-mixes the fixed 8-byte
    base — constant work per perm instead of re-hashing the string num_perm
    times (the dominant cost of the signature pass on long shingles)."""
    # distinct=False: min() over permuted hashes is multiplicity-insensitive,
    # so the dedup exchange would be pure cost
    sh = shingles(df, id_col, text_col, n, distinct=False).withColumn(
        "_h0", F.xxhash64(F.col("shingle"))
    )
    # the whole signature is ONE parsed aggregate expression — num_perm
    # separate F.min(F.xxhash64(F.lit...)) Columns cost ~5 py4j round-trips
    # each (~3.5 ms/call in this sandbox), which was several seconds of
    # Python-side plan CONSTRUCTION per query (same finding as
    # similarity._dot_lit_sql); semantics identical (integer literals parse
    # as INT, matching F.lit)
    sig_expr = (
        "array("
        + ", ".join(f"min(xxhash64({seed + p}, _h0))" for p in range(num_perm))
        + ")"
    )
    return sh.groupBy(id_col).agg(F.expr(sig_expr).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    bands: int = 32,
    rows_per_band: int = 3,
    seed: int = 42,
) -> DataFrame:
    """LSH-banded near-dup pairs, verified: candidates from the band join,
    then EXACT jaccard on candidates only (so precision is exact; recall at
    j=0.8 with 32x3 bands is 1-(1-0.8³)^32 ≈ 1-2e-10)."""
    num_perm = bands * rows_per_band
    sig = minhash_signatures(df, id_col, text_col, n, num_perm, seed)
    band_cols = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {b}, 'bh', "
            f"xxhash64(slice(sig, {b * rows_per_band + 1}, {rows_per_band})))"
            for b in range(bands)
        )
        + ")"
    )
    banded = sig.select(F.col(id_col), F.explode(band_cols).alias("b")).select(
        F.col(id_col), F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    l = banded.select(F.col(id_col).alias("id_a"), "band", "bh")
    r = banded.select(F.col(id_col).alias("id_b"), "band", "bh")
    cand = (
        l.join(r, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # exact verification: per-doc shingle sets joined onto the candidates
    sets_ = (
        shingles(df, id_col, text_col, n)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("sh_set"))
    )
    va = sets_.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("set_a"))
    vb = sets_.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("set_b"))
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("set_a") + F.size("set_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ------------------------------------------------------------------- SimHash


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """(id, simhash long): bit i of the signature is the sign of
    Σ_words (±1 by bit i of the portable word hash). Word multiplicity
    weights naturally (no distinct)."""
    # No exchange before the explode: one lost at sf0.1, neutral at sf1.0.
    w = df.select(F.col(id_col), F.explode(words(text_col)).alias("w"))
    h = portable_word_hash(F.col("w"))
    w = w.withColumn("h", h)
    # whole signature as ONE parsed aggregate expression (bit sums nested
    # inside the sign CASEs) — the per-bit Column construction was hundreds
    # of py4j round-trips of pure plan-build time; semantics identical
    sig_expr = (
        "CAST("
        + " + ".join(
            f"(CASE WHEN sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) > 0 "
            f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for i in range(bits)
        )
        + " AS BIGINT)"
    )
    return w.groupBy(id_col).agg(F.expr(sig_expr).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """Near-dup pairs at hamming ≤ max_hamming via band join (exact recall for
    max_hamming < bands) + bit_count verification. Output
    (id_a, id_b, hamming)."""
    assert max_hamming < bands, "pigeonhole recall guarantee needs hamming < bands"
    sig = simhash(df, id_col, text_col, bits)
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("bh"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(F.col(id_col), "simhash", F.explode(band_arr).alias("b"))
    banded = banded.select(
        F.col(id_col), "simhash", F.col("b.band").alias("band"),
        F.col("b.bh").alias("bh"),
    )
    l = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "band", "bh"
    )
    r = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "band", "bh"
    )
    cand = (
        l.join(r, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .where(F.col("hamming") <= F.lit(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


def first_per_window(
    df: DataFrame,
    keys: list[str],
    ts: str = "ts",
    window_sec: float = 3600.0,
    tiebreak: list[str] | None = None,
    out: str = "win_start_us",
) -> DataFrame:
    """Windowed dedup: keep the FIRST row per (keys × tumbling event-time
    window) — the batch twin of streaming dropDuplicatesWithinWatermark
    (bounded-state dedup; the reference analog is one-feature-row-per-
    utterance-per-pass, `04_…/feature_extractor.py:698-718`).

    The window id is exact int64 µs arithmetic (``ts_us − ts_us mod w``),
    never float division (float floor can misbucket at window boundaries,
    and the DuckDB oracle must land every row in the same bucket). One
    window pass partitioned by (keys, window) — at scale this shuffles each
    key's traffic once and keeps per-task state at one window's rows."""
    from pyspark.sql import Window as _Win

    from audio_feature_extraction_spark.operators.timeutil import ts_micros

    win_us = int(round(window_sec * 1_000_000))
    us = ts_micros(ts)
    start = (us - F.pmod(us, F.lit(win_us))).alias(out)
    with_win = df.withColumn(out, start)
    order = [F.col(ts).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
    w = _Win.partitionBy(*keys, out).orderBy(*order)
    return (
        with_win.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

"""Deterministic, engine-portable sketches for cardinality & frequency at
scale: HyperLogLog approximate distinct-count and a Count-Min frequency
sketch, both built ONLY from exact integer register math over the
portable md5-60 hash, so any SQL engine reproduces the estimates
bit-for-bit. HLL register derivation:

- hash: the engine-wide portable md5-derived 60-bit int64
  (:func:`~audio_feature_extraction_spark.operators.dedup.portable_word_hash`);
- register index = ``h % m`` and remainder ``w = h div m`` (non-negative,
  so ``%``/``div`` agree across engines — no signed-mod traps);
- with ``m = 2**p`` the remainder has ``60 - p`` bits, so
  rank = ``(61 - p) - bit_length(w)`` (the usual leading-zeros + 1),
  computed via ``length(bin(w))`` (both Spark and DuckDB print minimal
  binary; the w=0 branch is special-cased because both print ``'0'``);
- the harmonic-mean denominator sum(2^-M_j) is kept EXACT by summing the
  integers ``2^(wbits - M_j)`` as BIGINT (absent registers contribute
  ``2^wbits``; the total is bounded by ``m * 2^wbits = 2^61``, inside
  int64) and dividing once at the end — float summation order can never
  perturb the estimate.

Reference analog: the reference counts distinct units exactly with
pandas `nunique` (`04_feature_extraction_experiment/
experiment_data_manager.py` summary stats); at 100 TB an exact
count-distinct of a high-cardinality key is a full shuffle of every
distinct value, while the HLL register table is a fixed m rows per group
regardless of input size — partial-aggregable map-side, one tiny shuffle.

Scale notes (100 TB):
- ``hll_registers`` is groupBy(group, idx).max(rank): Spark plans a
  map-side partial max over (|groups| x m) cells, so the exchange carries
  at most m=2^p rows per group whatever the row count;
- the estimate fold is a second agg over that fixed-size frame — free;
- unlike ``approx_count_distinct`` (HLL++ with engine-private hashing),
  this sketch is reproducible OUTSIDE Spark, which is what the
  correctness gate — and any cross-engine data-quality contract — needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.dedup import portable_word_hash

_HASH_BITS = 60


def hll_alpha(m: int) -> float:
    """Standard HLL bias-correction constant (Flajolet et al. 2007) —
    evaluated the same way in the DuckDB oracle so the doubles agree."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    value: Column,
    group_cols: list[str],
    p: int = 9,
) -> DataFrame:
    """Per-group HLL register table: (group_cols..., _idx, _rank), at most
    ``2**p`` rows per group. ``value`` must be a string column (hash input)."""
    m = 1 << p
    wbits = _HASH_BITS - p + 1  # rank budget: remainder bits + 1
    h = df.select(*group_cols, portable_word_hash(value).alias("_h"))
    shaped = h.select(
        *group_cols,
        F.pmod(F.col("_h"), F.lit(m)).alias("_idx"),
        F.expr(f"_h div {m}").alias("_w"),
    ).select(
        *group_cols,
        "_idx",
        F.when(F.col("_w") == 0, F.lit(wbits))
        .otherwise(F.lit(wbits) - F.length(F.bin("_w")))
        .cast("int")
        .alias("_rank"),
    )
    return shaped.groupBy(*group_cols, "_idx").agg(
        F.max("_rank").alias("_rank")
    )


def cms_registers(
    df: DataFrame,
    value: Column,
    group_cols: list[str],
    d: int = 4,
    w: int = 2048,
) -> DataFrame:
    """Count-Min sketch register table: (group_cols..., _row, _idx, _cnt),
    at most ``d*w`` rows per group whatever the input size. Row ``i`` hashes
    ``value`` with the portable md5-60 hash of ``'i:' || value`` (independent
    hash per row via the seed prefix); the counter is a plain COUNT.

    Scale shape: the d-way explode is narrow (no exchange), and the
    groupBy(group, _row, _idx) count partial-aggregates map-side to at most
    ``d*w`` cells per task, so the single shuffle carries a fixed-size
    frame per group regardless of row count — the same bounded-exchange
    property as :func:`hll_registers`."""
    rows = df.select(*group_cols, value.cast("string").alias("_v"))
    exploded = rows.select(
        *group_cols,
        F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("_row"),
        "_v",
    )
    keyed = exploded.select(
        *group_cols,
        "_row",
        F.pmod(
            portable_word_hash(
                F.concat_ws(":", F.col("_row").cast("string"), F.col("_v"))
            ),
            F.lit(w),
        ).alias("_idx"),
    )
    return keyed.groupBy(*group_cols, "_row", "_idx").agg(
        F.count(F.lit(1)).alias("_cnt")
    )


def cms_lookup(
    registers: DataFrame,
    probes: DataFrame,
    key_col: str,
    group_cols: list[str],
    d: int = 4,
    w: int = 2048,
    out: str = "cms_count",
) -> DataFrame:
    """Point-query the sketch for each probe key: min over the d rows of
    the counter at that key's cell (0 for an empty cell). The CMS
    guarantee: never an undercount, overcount bounded by ~2N/w per row
    with probability 1 - 2^-d (property-tested in
    tests/test_sketch.py).

    Plan shape: probes explode d-ways then join the FIXED-size register
    frame (≤ d*w rows per group) broadcast-hash — the probe side, however
    large, is never shuffled."""
    p = probes.select(*group_cols, F.col(key_col)).select(
        *group_cols,
        key_col,
        F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("_row"),
    )
    p = p.withColumn(
        "_idx",
        F.pmod(
            portable_word_hash(
                F.concat_ws(
                    ":",
                    F.col("_row").cast("string"),
                    F.col(key_col).cast("string"),
                )
            ),
            F.lit(w),
        ),
    )
    joined = p.join(
        F.broadcast(registers), [*group_cols, "_row", "_idx"], "left"
    ).select(
        *group_cols, key_col, F.coalesce("_cnt", F.lit(0)).alias("_cnt")
    )
    return joined.groupBy(*group_cols, key_col).agg(
        F.min("_cnt").alias(out)
    )


def bloom_bits(
    df: DataFrame,
    value: Column,
    m_bits: int = 4096,
    k: int = 4,
) -> DataFrame:
    """Bloom filter as a table of DISTINCT set bit positions (single column
    ``_bit``), at most ``m_bits`` rows whatever the build-side size. Hash
    ``i`` of a value is the portable md5-60 of ``'i:' || value`` mod
    ``m_bits`` — the same seed-prefix trick as :func:`cms_registers`, so
    any SQL engine reproduces the exact bit set.

    Scale shape: the k-way explode is narrow, and the distinct partial-
    aggregates map-side to at most ``m_bits`` rows per task, so the one
    shuffle carries a fixed-size frame regardless of build rows. Mergeable
    by plain union+distinct (a Bloom filter is a bitwise OR)."""
    rows = df.select(value.cast("string").alias("_v"))
    exploded = rows.select(
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_seed"),
        "_v",
    )
    return exploded.select(
        F.pmod(
            portable_word_hash(
                F.concat_ws(":", F.col("_seed").cast("string"), F.col("_v"))
            ),
            F.lit(m_bits),
        ).alias("_bit")
    ).distinct()


def bloom_might_contain(
    probe: DataFrame,
    bits: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k: int = 4,
    out: str = "bloom_pass",
) -> DataFrame:
    """Annotate ``probe`` with boolean ``out``: True iff ALL k bit
    positions of ``key_col`` are set in the filter. Never a false
    negative (every build key passes — property-tested); false positives
    at the standard (1 - e^(-kn/m))^k rate.

    This is the distributed semi-join-pruning primitive: at 100 TB the
    bit table folds to ONE row holding a sorted array (≤ m_bits ints,
    computed once), broadcast to every task; the probe streams through k
    codegen'd ``array_contains`` probes row-preserving — the probe is
    NEVER shuffled and never joined (duplicate probe rows survive
    untouched). Rows are dropped (or flagged) before the expensive exact
    join ever sees them. The single-row crossJoin plans as
    BroadcastNestedLoopJoin, never CartesianProduct."""
    pk = F.col(key_col).cast("string")
    # coalesce: an EMPTY build side must yield [] (reject-all), never NULL
    bitset = bits.agg(
        F.coalesce(
            F.array_sort(F.collect_set("_bit")),
            F.array().cast("array<bigint>"),
        ).alias("_bits")
    )
    cur = probe.crossJoin(F.broadcast(bitset))
    hits = [
        F.array_contains(
            "_bits",
            F.pmod(
                portable_word_hash(F.concat_ws(":", F.lit(str(i)), pk)),
                F.lit(m_bits),
            ),
        )
        for i in range(k)
    ]
    passed = hits[0]
    for c in hits[1:]:
        passed = passed & c
    return cur.select(*probe.columns, passed.alias(out))


def qsketch_registers(
    df: DataFrame,
    value: Column,
    group_cols: list[str],
    lo: float,
    hi: float,
    n_bins: int = 512,
) -> DataFrame:
    """Quantile sketch: exact counts over ``n_bins`` equal-width
    bins of the clamped domain [lo, hi) — (group_cols..., _bin, _cnt),
    at most ``n_bins`` rows per group whatever the input size. Out-of-range
    values clamp into the edge bins (the estimate degrades gracefully at
    the tails instead of erroring).

    This is the bounded-state answer to exact ``percentile()`` at 100 TB:
    the exact version shuffles every distinct value; the sketch shuffles
    ≤ n_bins integers per group, with worst-case absolute error
    (hi-lo)/n_bins. Deterministic integer register math — any SQL engine
    reproduces the estimate bit-for-bit."""
    width = (hi - lo) / n_bins
    b = F.floor((value.cast("double") - F.lit(lo)) / F.lit(width)).cast(
        "int"
    )
    clamped = F.greatest(F.least(b, F.lit(n_bins - 1)), F.lit(0))
    return (
        df.select(*group_cols, clamped.alias("_bin"))
        .groupBy(*group_cols, "_bin")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )


def qsketch_quantiles(
    registers: DataFrame,
    group_cols: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 512,
) -> DataFrame:
    """Fold a register table into one row per group with an estimated
    quantile column ``q_<q>`` per requested q (0 < q <= 1): cumulative
    bin counts + linear interpolation inside the crossing bin —
    est = lo + width * (bin + (target - cum_before) / cnt) with
    target = q * n. The crossing bin is the unique one with
    ``cum - cnt < target <= cum`` (empty bins can never satisfy the
    strict side), so the pick is a conditional agg, not a join.

    Plan shape: ONE window pass (cum over bins, partitioned by group —
    register frames are tiny) + one agg sharing the same partitioning."""
    from pyspark.sql import Window

    width = (hi - lo) / n_bins
    w = Window.partitionBy(*group_cols).orderBy("_bin")
    r = registers.withColumn(
        "_cum", F.sum("_cnt").over(w)
    ).withColumn("_n", F.sum("_cnt").over(Window.partitionBy(*group_cols)))
    aggs = []
    for q in qs:
        target = F.lit(q) * F.col("_n").cast("double")
        crossing = (F.col("_cum").cast("double") >= target) & (
            (F.col("_cum") - F.col("_cnt")).cast("double") < target
        )
        est = F.lit(lo) + F.lit(width) * (
            F.col("_bin").cast("double")
            + (target - (F.col("_cum") - F.col("_cnt")).cast("double"))
            / F.col("_cnt").cast("double")
        )
        name = f"q_{str(q).replace('.', '_')}"
        aggs.append(F.max(F.when(crossing, est)).alias(name))
    return r.groupBy(*group_cols).agg(*aggs)


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str],
    p: int = 9,
    out: str = "approx_distinct",
) -> DataFrame:
    """Fold a register table into one estimate row per group.

    Exact-integer denominator: sum over present registers of
    ``2^(wbits - rank)`` plus ``2^wbits`` per absent (zero) register,
    summed as BIGINT; then raw = alpha * m^2 * 2^wbits / S in one double
    division. Small-range (linear counting) correction applies when
    raw <= 2.5 m and zero registers remain — both branches mirrored in
    the oracle SQL."""
    m = 1 << p
    wbits = _HASH_BITS - p + 1
    alpha = hll_alpha(m)
    folded = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_nreg"),
        F.sum(
            # shiftleft with a column shift amount needs the SQL form (the
            # PySpark wrapper only takes a literal int)
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {wbits} - _rank)")
        ).alias("_s_present"),
    )
    zeros = F.lit(m) - F.col("_nreg")
    s_total = (
        F.col("_s_present") + zeros.cast("long") * F.lit(1 << wbits)
    ).cast("double")
    raw = F.lit(alpha * m * m) * F.lit(float(1 << wbits)) / s_total
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return folded.select(*group_cols, F.round(est, 4).alias(out))

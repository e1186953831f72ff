"""Connected components over duplicate-pair graphs (graph-lite, SURVEY §1.1).

The reference's only graph structure is the teacher→students pairing map
(`05_dtw_alignment_experiment/dtw_alignment.py:1377-1416`) — a one-level
grouping. The curation analog a 100 TB pipeline actually needs is one step
more: near-duplicate PAIRS (minhash/simhash/jaccard output) must become
duplicate CLUSTERS so exactly one representative per cluster survives.
That is connected components, implemented here as the large-star/small-star
contraction of Kiveris et al. ("Connected Components in MapReduce and
Beyond", SoCC 2014) on DataFrames.

Scale shape: each round is two window-min phases (``min(...) over
(partition by hi)``, one exchange each, no join back) and one distinct, and
the number of rounds is O(log n) whatever the component diameter — a long
chain of near-duplicates costs a few more rounds, not one round per hop.
Each round ends in one localCheckpoint, so the plan does not grow with
iterations; the convergence fingerprint (edge count + bit_xor) is an
Observation on that checkpoint, so it costs no job of its own and no data
collect. Once a round's checkpoint is materialized, the round before it is
released: nothing reads it any more, so only the returned plan's own
checkpoint stays on the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (hi, lo) pairs, hi > lo, self-loops dropped."""
    return (
        edges.select(
            F.greatest("hi", "lo").alias("hi"), F.least("hi", "lo").alias("lo")
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _checkpoint(edges: DataFrame) -> tuple[DataFrame, tuple]:
    """``edges`` checkpointed eagerly, with its multiset fingerprint
    (count, bit_xor(xxhash64(hi, lo))) observed during that same job."""
    # bit_xor: order-independent and overflow-free (an int64 SUM of hashes
    # would throw under the engine's ANSI-on sessions)
    obs = Observation()
    e = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(hi, lo))").alias("h"),
    ).localCheckpoint(eager=True)
    row = obs.get
    return e, (row["n"], row["h"])


def _release(checkpointed: DataFrame) -> None:
    """Drop the blocks of a localCheckpoint that nothing reads any more."""
    checkpointed._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    edge_a: str = "id_a",
    edge_b: str = "id_b",
    out: str = "cluster_id",
    max_iter: int = 40,
) -> DataFrame:
    """(node, cluster_id) where cluster_id = min node id reachable in the
    undirected graph; isolated nodes are their own singleton cluster.
    Large-star/small-star rounds alternate:

    - **large-star**: every node hooks its LARGER neighbors to the minimum
      of its closed neighborhood — halves long paths;
    - **small-star**: every node hooks its smaller-or-equal neighbors (and
      itself) to that minimum — flattens partial stars.

    Each phase is one window min partitioned by ``hi``; one round (both
    phases) is one checkpoint of the canonical (hi > lo) edge set.
    Convergence when the edge set fingerprint (count + bit_xor of xxhash64)
    is stable, at which point every edge points a node directly at its
    component minimum. Node ids must be totally ordered (numeric or
    string).

    ``edges`` may list each undirected pair once in either orientation;
    duplicate edges and self-loops are harmless. Edges incident to an id
    absent from ``nodes`` are IGNORED (filtered BEFORE the contraction, so
    labels can never relay through, or land on, an out-of-universe id).
    Raises RuntimeError if ``max_iter`` rounds pass without reaching the
    fixpoint (a pre-fixpoint edge set can carry one node under multiple
    labels, and silently-partial labels would corrupt cluster stats)."""
    all_nodes = nodes.select(F.col(id_col).alias("node"))
    raw = edges.select(F.col(edge_a).alias("hi"), F.col(edge_b).alias("lo"))
    in_universe = raw.join(
        all_nodes.select(F.col("node").alias("hi")), "hi", "left_semi"
    ).join(all_nodes.select(F.col("node").alias("lo")), "lo", "left_semi")
    # the input stays its own checkpoint: a round that starts from the
    # un-checkpointed pair plan would reference it once per phase
    e, fp = _checkpoint(_canonical(in_universe))
    by_hi = Window.partitionBy("hi")
    converged = False
    for _ in range(max_iter):
        # large-star: sym neighborhoods; m(u) = min(neighbors ∪ u);
        # for v in neighbors, v > u: new edge (v, m). v > u >= m, so the
        # output is already oriented and loop-free; its duplicates are
        # harmless to the min below.
        sym = e.select("hi", "lo").unionAll(
            e.select(F.col("lo").alias("hi"), F.col("hi").alias("lo"))
        )
        large = (
            sym.withColumn("m", F.least(F.min("lo").over(by_hi), F.col("hi")))
            .where(F.col("lo") > F.col("hi"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        )
        # small-star on the directed (hi -> lo) set: m(h) = min(lo nbrs);
        # hook every lo neighbor and h itself to m
        small = large.withColumn("m", F.min("lo").over(by_hi)).select(
            F.explode(F.array("lo", "hi")).alias("hi"), F.col("m").alias("lo")
        )
        prev = e
        e, nfp = _checkpoint(_canonical(small))
        _release(prev)
        if nfp == fp:
            converged = True
            break
        fp = nfp
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "rounds; raise max_iter (rounds needed is O(log n))."
        )
    # converged: each non-min node appears as hi exactly once, pointing at
    # its component min; min + isolated nodes label themselves
    lbl = e.select(F.col("hi").alias("node"), F.col("lo").alias("lbl"))
    self_lbl = all_nodes.join(lbl, "node", "left_anti").select(
        "node", F.col("node").alias("lbl")
    )
    return lbl.unionAll(self_lbl).select("node", F.col("lbl").alias(out))

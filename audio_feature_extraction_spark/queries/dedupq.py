"""Exact and near-duplicate detection (jaccard, minhash-LSH, simhash, clusters).

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from audio_feature_extraction_spark.operators import dedup as _D
from .common import _t


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _D.exact_dedup(_t(spark, sf_dir, "documents"), "doc_id")

_SQL_DEDUP_EXACT = """
SELECT array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
         AS dedup_key,
       MIN(doc_id) AS survivor_id,
       COUNT(*) AS n_dupes
FROM documents GROUP BY 1
"""

# hot-shingle document-frequency cap for the inverted-index join: a shingle
# shared by > NGRAM_DF_CAP docs is a stop-shingle — it carries no dedup signal
# and is exactly the key whose self-join is quadratic at 100 TB
NGRAM_DF_CAP = 64

def _sql_jaccard(df_cap: int | None = None) -> str:
    """Brute-force 3-gram jaccard pairs (DuckDB). With ``df_cap`` the oracle
    mirrors the engine's stop-shingle drop so values stay bit-identical."""
    kept = (
        "SELECT * FROM sh"
        if df_cap is None
        else "SELECT * FROM sh WHERE s NOT IN "
        f"(SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {df_cap})"
    )
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
idx AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 2)) AS i
        FROM d),
sh AS (SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s FROM idx),
kept AS ({kept}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(inter / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE inter / (sa.n + sb.n - inter) >= 0.8
"""

_SQL_JACCARD_BASE = _sql_jaccard(None)

def _q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.8, df_cap=NGRAM_DF_CAP,
    )

def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: verified jaccard pairs → connected
    components (large-star/small-star, operators/graph.py) → every document
    labeled with its cluster representative (min doc_id reachable) and the
    cluster size. This is the keep-one-representative primitive of corpus
    dedup; the DuckDB oracle computes the same components via a recursive
    reachability CTE. ``dedup_clusters_star`` is this builder too: its
    registry name and oracle are pinned."""
    from audio_feature_extraction_spark.operators.graph import (
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = _D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, df_cap=NGRAM_DF_CAP
    )
    cc = connected_components(pairs, docs, id_col="doc_id")
    size = F.count("*").over(Window.partitionBy("cluster_id"))
    return cc.select(
        F.col("node").alias("doc_id"), "cluster_id", size.alias("cluster_size")
    )

def _sql_dedup_clusters() -> str:
    """Reachability closure over the SAME verified-pair set: cluster_id =
    min node reachable in the undirected pair graph (UNION-recursive CTE,
    terminates at the closure fixpoint)."""
    return f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({_sql_jaccard(NGRAM_DF_CAP)}) jp),
nodes AS (SELECT doc_id AS node FROM documents),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM pairs),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst AS node, rc.r
  FROM reach rc JOIN edges e ON e.src = rc.node),
lab AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
SELECT l.doc_id, l.cluster_id, s.cluster_size
FROM lab l JOIN sizes s USING (cluster_id)
"""

def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded candidates + exact verification. Oracle = brute force: at
    j≥0.8 with 32 bands × 3 rows, miss probability ≤ 2e-10 per pair, and the
    testdata's qualifying pairs all sit ≥ 0.9."""
    return _D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.8
    )

def _duck_word_hash(x: str) -> str:
    return f"CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

def _sql_simhash_cte(bits: int = _D.SIMHASH_BITS) -> str:
    """Programmatically generated DuckDB twin of operators.dedup.simhash."""
    sums = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
h AS (SELECT doc_id, {_duck_word_hash('word')} AS h FROM w),
sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {sig} AS simhash FROM sums)
"""

def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _D.simhash(_t(spark, sf_dir, "documents"), "doc_id", "text")

def _sql_simhash() -> str:
    return f"WITH {_sql_simhash_cte()} SELECT doc_id, simhash FROM sig"

def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _D.simhash_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=6
    )

def _sql_simhash_pairs() -> str:
    # oracle is the brute-force all-pairs hamming; the engine's banded join
    # has exact recall for max_hamming < bands (pigeonhole)
    return f"""
WITH {_sql_simhash_cte()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""

def _q_windowed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user, 1 h tumbling event-time window) — batch twin
    of streaming dropDuplicatesWithinWatermark (bounded-state dedup)."""
    ev = _t(spark, sf_dir, "events")
    out = _D.first_per_window(
        ev, keys=["user_id"], ts="ts", window_sec=3600.0, tiebreak=["event_id"]
    )
    return out.select("event_id", "user_id", "win_start_us")

_SQL_WINDOWED_DEDUP = """
WITH b AS (
  -- true floor-mod bucketing: DuckDB's % AND // both follow the dividend's
  -- sign (truncate toward zero: -7 // 2 = -3, -7 % 2 = -1), so neither
  -- matches Spark's pmod for pre-1970 (negative epoch_us) timestamps;
  -- ((x % w) + w) % w is the portable non-negative remainder
  SELECT event_id, user_id, ts,
         epoch_us(ts)
           - ((epoch_us(ts) % 3600000000) + 3600000000) % 3600000000
           AS win_start_us
  FROM events),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id, win_start_us ORDER BY ts, event_id) AS rn
  FROM b)
SELECT event_id, user_id, win_start_us FROM r WHERE rn = 1
"""


def _q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric sub-document duplication: directed containment
    |A∩B|/|A| >= 0.8 over capped 3-gram shingles (the containment twin of
    `dedup_ngram_jaccard`; catches a short doc embedded in a longer one,
    which union-normalized jaccard misses)."""
    return _D.ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.8, df_cap=NGRAM_DF_CAP,
    )


def _sql_containment(df_cap: int) -> str:
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
idx AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 2)) AS i
        FROM d),
sh AS (SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s FROM idx),
kept AS (SELECT * FROM sh WHERE s NOT IN
         (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {df_cap})),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
directed AS (
  SELECT id_a AS id_sub, id_b AS id_super, inter / sa.n AS containment
  FROM pairs JOIN sizes sa ON id_a = sa.doc_id
  UNION ALL
  SELECT id_b AS id_sub, id_a AS id_super, inter / sb.n AS containment
  FROM pairs JOIN sizes sb ON id_b = sb.doc_id)
SELECT id_sub, id_super, ROUND(containment, 6) AS containment
FROM directed WHERE containment >= 0.8
"""


SUBSTR_K, SUBSTR_MIN_SPAN = 8, 16

def _q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring spans (Lee-et-al ExactSubstr,
    VERDICT r04 #7): per doc, maximal token runs whose every 8-token
    shingle also appears in ANOTHER document, spans >= 16 tokens. The
    inverted-index shape of operators/dedup.duplicated_substring_runs;
    all outputs exact ints, so the DuckDB gate is exact."""
    return _D.duplicated_substring_runs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        k=SUBSTR_K, min_span_tokens=SUBSTR_MIN_SPAN,
    )

_SQL_SUBSTRING_DEDUP = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - {SUBSTR_K - 1}))
          AS i FROM d),
sh AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(w[i:i + {SUBSTR_K - 1}], ' ') AS s FROM idx),
dup AS (SELECT s FROM sh GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
kept AS (SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM dup)),
runs AS (SELECT doc_id, pos,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         FROM kept),
agg AS (SELECT doc_id,
          MIN(pos) AS run_start, MAX(pos) AS run_end,
          COUNT(*) AS n_shingles,
          MAX(pos) - MIN(pos) + {SUBSTR_K} AS span_tokens
        FROM runs GROUP BY doc_id, grp)
SELECT doc_id, run_start, run_end,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(span_tokens AS BIGINT) AS span_tokens
FROM agg WHERE span_tokens >= {SUBSTR_MIN_SPAN}
"""


QUERIES = {
    "dedup_exact": (_q_dedup_exact, _SQL_DEDUP_EXACT),
    "dedup_ngram_jaccard": (_q_dedup_ngram, _sql_jaccard(NGRAM_DF_CAP)),
    "dedup_clusters": (_q_dedup_clusters, _sql_dedup_clusters()),
    "dedup_minhash_lsh": (_q_dedup_minhash, _SQL_JACCARD_BASE),
    "simhash_signatures": (_q_simhash, _sql_simhash()),
    "simhash_pairs": (_q_simhash_pairs, _sql_simhash_pairs()),
    "windowed_dedup": (_q_windowed_dedup, _SQL_WINDOWED_DEDUP),
    "dedup_containment": (
        _q_dedup_containment, _sql_containment(NGRAM_DF_CAP)
    ),
    "dedup_clusters_star": (_q_dedup_clusters, _sql_dedup_clusters()),
    "substring_dedup": (_q_substring_dedup, _SQL_SUBSTRING_DEDUP),
}

"""Text analysis: language-ID, quality, repetition, contamination, vocab.

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from audio_feature_extraction_spark.operators import dedup as _D
from audio_feature_extraction_spark.operators import text as _T
from audio_feature_extraction_spark.operators import quality as _Q
from .common import _t
from .flagship import _sequences_from_events
from .dedupq import _duck_word_hash


# --------------------------------------------------------------------------
# text analysis suite
# --------------------------------------------------------------------------


def _q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # three-projection plan (r07): split(text) is projected ONCE and every
    # word-level feature (wc, quality, the 25 marker-hit counts) reads the
    # array column; the lang winner CASE then runs over the cheap integer
    # hit columns in a third projection. The flat form re-evaluated the
    # split tree at every one of its ~60 references (CSE does not reliably
    # fire across a wide projection, and the hit trees inlined into the
    # winner CASE sit in conditional branches where CSE cannot fire at
    # all): 8.8 s → ~2.5 s at sf1.0. CollapseProject keeps the stages
    # apart because _w / the hit columns are non-cheap and
    # multiply-referenced.
    from audio_feature_extraction_spark.operators.dedup import words

    split_once = d.select("doc_id", "text", words("text").alias("_w"))
    hits = {
        lang: col.alias(f"_h_{lang}")
        for lang, col in _T.lang_hits("text", w=F.col("_w")).items()
    }
    base = split_once.select(
        "doc_id",
        F.size("_w").alias("wc"),
        _T.bpe_ish_token_count("text").alias("bpe_tokens"),
        F.round(_T.quality_score("text", w=F.col("_w")), 6).alias("quality"),
        _T.doc_fingerprint("text").alias("fingerprint"),
        *hits.values(),
    ).select(
        "doc_id",
        "wc",
        "bpe_tokens",
        "quality",
        _T.lang_pick(
            {lang: F.col(f"_h_{lang}") for lang in hits}
        ).alias("lang_pred"),
        "fingerprint",
    )
    # min-shingle via the explode plan, not the array-transform column:
    # higher-order lambdas are interpreted (CodegenFallback), so one extra
    # keyed agg + join beats per-row gram building (~2× on this query)
    msf = (
        _D.shingles(d, "doc_id", "text", 3)
        .groupBy("doc_id")
        .agg(F.min(_D.portable_word_hash(F.col("shingle"))).alias("min_shingle_fp"))
    )
    return base.join(msf, "doc_id", "left")

def _sql_text_features() -> str:
    def _hits_expr(markers: list[str]) -> str:
        # mirror text.marker_hits: word-count for ASCII markers, substring
        # occurrence count for CJK (space-free scripts never word-match)
        word_ms = [m for m in markers if m.isascii()]
        sub_ms = [m for m in markers if not m.isascii()]
        parts = []
        if word_ms:
            parts.append(
                "len(list_filter(string_split(text,' '), "
                f"w -> list_contains({word_ms!r}, w)))"
            )
        for m in sub_ms:
            parts.append(
                f"CAST((length(text) - length(replace(text, '{m}', '')))"
                f" / {len(m)} AS INT)"
            )
        return " + ".join(parts)

    marker_hits = {
        lang: _hits_expr(markers) for lang, markers in _T.LANG_MARKERS.items()
    }
    gm = "GREATEST(" + ", ".join(f"h_{l}" for l in _T.LANG_MARKERS) + ")"
    lang_case = "CASE WHEN " + gm + " = 0 THEN 'und' " + " ".join(
        f"WHEN h_{l} = {gm} THEN '{l}'" for l in _T.LANG_MARKERS
    ) + " END"
    hit_cols = ", ".join(f"{expr} AS h_{l}" for l, expr in marker_hits.items())
    return f"""
WITH base AS (
  SELECT doc_id, text,
    len(string_split(text, ' ')) AS wc,
    len(regexp_extract_all(text, '{_T.BPE_ISH_PATTERN}')) AS bpe_tokens,
    len(list_distinct(string_split(text, ' '))) AS n_distinct,
    {hit_cols}
  FROM documents),
q AS (
  SELECT *,
    n_distinct / wc AS dwr,
    (length(text) - (wc - 1)) / wc AS awl
  FROM base),
sh AS (
  SELECT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s
  FROM (SELECT doc_id, string_split(text,' ') AS words,
               unnest(generate_series(1, len(string_split(text,' ')) - 2)) AS i
        FROM documents)),
msf AS (SELECT doc_id, MIN({_duck_word_hash('s')}) AS min_shingle_fp
        FROM sh GROUP BY doc_id)
SELECT q.doc_id, wc, bpe_tokens,
  ROUND(GREATEST(1.0
    - CASE WHEN wc < 20 THEN 0.3 ELSE 0.0 END
    - CASE WHEN dwr < 0.4 THEN 0.3 ELSE 0.0 END
    - CASE WHEN awl < 2.5 OR awl > 12.0 THEN 0.3 ELSE 0.0 END, 0.0), 6)
    AS quality,
  {lang_case} AS lang_pred,
  md5(text) AS fingerprint,
  msf.min_shingle_fp
FROM q LEFT JOIN msf ON q.doc_id = msf.doc_id
"""

def _q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per doc: duplicated bigram/trigram
    fraction + most-frequent-word dominance, all from ONE posexplode pass
    (one exchange; the rollup chain reuses the hash(doc_id) partitioning —
    see quality.repetition_stats)."""
    d = _t(spark, sf_dir, "documents")
    return _Q.repetition_stats(d, "doc_id", "text")

_SQL_DOC_REPETITION = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS wc
  FROM documents),
g2 AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w)),
g3 AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w)),
d2 AS (SELECT doc_id, ROUND(1.0 - COUNT(DISTINCT g) / COUNT(*), 6) AS dup2_frac
       FROM g2 GROUP BY doc_id),
d3 AS (SELECT doc_id, ROUND(1.0 - COUNT(DISTINCT g) / COUNT(*), 6) AS dup3_frac
       FROM g3 GROUP BY doc_id),
wordcounts AS (
  SELECT doc_id, word, COUNT(*) AS n
  FROM (SELECT doc_id, unnest(ws) AS word FROM w)
  GROUP BY doc_id, word),
top AS (
  SELECT doc_id, word, n,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, word) AS rn
  FROM wordcounts)
SELECT w.doc_id, d2.dup2_frac, d3.dup3_frac,
       top.word AS top_word,
       CAST(top.n AS BIGINT) AS top_word_count,
       ROUND(top.n / w.wc, 6) AS top_word_frac
FROM w
LEFT JOIN d2 ON w.doc_id = d2.doc_id
LEFT JOIN d3 ON w.doc_id = d3.doc_id
JOIN top ON w.doc_id = top.doc_id AND top.rn = 1
"""

def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: 3-gram shingle overlap between the
    corpus (doc_id % 97 != 0) and a broadcast benchmark set (% 97 == 0).
    Inverted-index join — never an all-pairs comparison. (Real corpora use
    longer shingles, e.g. 8-grams; the synthetic vocab is tiny so 3-grams
    keep the matched set large enough to gate on.)"""
    d = _t(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    bench = d.where(F.col("doc_id") % 97 == 0)
    return _Q.contamination_overlap(
        corpus, bench, "doc_id", "text", n=3, min_overlap=1
    ).select("doc_id", F.col("overlap").cast("long").alias("overlap"))

_SQL_CONTAMINATION = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT doc_id,
    {_duck_word_hash("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")} AS h
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w)),
corpus AS (SELECT DISTINCT doc_id, h FROM sh WHERE doc_id % 97 != 0),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0)
SELECT corpus.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap
FROM corpus JOIN bench ON corpus.h = bench.h
GROUP BY corpus.doc_id
HAVING COUNT(*) >= 1
"""

def _q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram for batch-shape planning: power-of-two
    n_chars buckets per source (bit-exact bucket labels)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "source", _Q.pow2_length_bucket(F.col("n_chars")).alias("len_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )

_SQL_LENGTH_BUCKETS = """
SELECT source,
  CASE WHEN n_chars <= 0 THEN 0
       ELSE CAST(power(2.0, length(bin(CAST(n_chars AS BIGINT))) - 1) AS BIGINT)
  END AS len_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# token-payload suite: vocabulary histogram, packed-batch rollup, per-session
# token throughput (the north rule's payload is pre-tokenized sequences)
# --------------------------------------------------------------------------


def _q_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary histogram over the pre-tokenized sequences: explode the
    tokens array, one keyed agg (map-side combine collapses the explode
    blow-up before the exchange — at 10^12 sequences the shuffle carries
    |vocab| × partials, not one row per token occurrence)."""
    seq = _sequences_from_events(spark, sf_dir)
    return (
        seq.select(
            "doc_id", "n_tok", F.explode("tokens").alias("token")
        )
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_ntok"),
        )
    )

_SQL_TOKEN_VOCAB = """
WITH s AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         CAST(event_id % 31 + 2 AS INT) AS n_tok
  FROM events),
t AS (SELECT doc_id, n_tok, unnest(generate_series(1, n_tok)) AS token FROM s)
SELECT CAST(token AS INT) AS token,
  CAST(COUNT(*) AS BIGINT) AS n_seqs,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS sum_ntok
FROM t GROUP BY token
"""

def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 JSON composition both directions: parse the props JSON column
    (get_json_object → typed), aggregate, and re-emit a canonical compact
    JSON summary string (to_json(struct(...)) — byte-identical to DuckDB's
    json_object, both engines print compact key-insertion-order JSON)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    # No exchange before the JSON parse: one measured 1.19x slower at
    # sf0.1 and 1.30x at sf1.0, as the partial agg leaves 5 rows per task.
    src = ev.select("event_type", "props")
    agg = src.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.round(F.avg("k"), 6).alias("avg_k"),
        F.max("k").alias("max_k"),
    )
    return agg.withColumn(
        "summary",
        F.to_json(
            F.struct(F.col("event_type").alias("t"), F.col("max_k").alias("mx"))
        ),
    )

_SQL_JSON_PROPS = """
WITH k AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(k) AS BIGINT) AS sum_k,
  ROUND(AVG(k), 6) AS avg_k,
  MAX(k) AS max_k,
  CAST(json_object('t', event_type, 'mx', MAX(k)) AS VARCHAR) AS summary
FROM k GROUP BY event_type
"""


def _q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score: per-doc mean unigram surprisal
    -ln(count(w)/N) under the corpus's own unigram distribution — the
    cheapest perplexity proxy a curation pipeline runs before a real LM.
    Two aggregations + one word-keyed join; the corpus total N rides along
    as a broadcast single-row frame (never a driver constant baked into
    the plan, so the query stays one lazy DAG)."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    counts = w.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = w.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        w.join(counts, "w")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (-F.log(F.col("c") / F.col("n"))).alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(F.avg("s"), 6).alias("mean_surprisal"),
    )


_SQL_UNIGRAM_SURPRISAL = """
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
c AS (SELECT w, COUNT(*) AS c FROM w GROUP BY 1),
t AS (SELECT COUNT(*)::DOUBLE AS n FROM w)
SELECT doc_id, COUNT(*) AS n_words,
       ROUND(AVG(-ln(c.c / t.n)), 6) AS mean_surprisal
FROM w JOIN c USING (w) CROSS JOIN t
GROUP BY doc_id
"""


def _q_top_ngrams_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 trigrams per source by document frequency (deterministic
    tiebreak: count desc, ngram asc) — the boilerplate-discovery report of
    a curation pass. Scale shape: Spark 4 rewrites the rank<=k filter into
    a map-side `WindowGroupLimit Partial` BEFORE the per-source exchange
    (each input partition forwards only its own top 5), so the final
    window sorts ≤ 5 × n_partitions rows per source — the
    unpartitioned-window trap is handled by the optimizer natively here
    (pinned by test_plan_shape); hand-rolled salting (take_per_stratum
    style) is only needed for windows the rewrite can't see."""
    docs = _t(spark, sf_dir, "documents")
    sh = _D.shingles(docs, "doc_id", "text", 3)
    cnt = (
        sh.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "shingle")
        .agg(F.count(F.lit(1)).alias("df_count"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("df_count").desc(), F.col("shingle")
    )
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("source", F.col("shingle").alias("ngram"), "df_count", "rk")
    )


_SQL_TOP_NGRAMS_BY_SOURCE = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
idx AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 2)) AS i
        FROM d),
sh AS (SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s FROM idx),
c AS (SELECT source, s, COUNT(*) AS df_count
      FROM sh JOIN documents USING (doc_id) GROUP BY 1, 2),
r AS (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY df_count DESC, s) AS rk FROM c)
SELECT source, s AS ngram, df_count, rk FROM r WHERE rk <= 5
"""


# BM25 parameters (Robertson/Lucene defaults) and the plan-time query-term
# literals — both engines embed the SAME constants so every intermediate
# (tf, df, dl, N exact ints; avgdl = exact-int division) is identical and
# the final double math is the same IEEE expression on both sides.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ["spark", "join", "stream"]


def _q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 relevance against a fixed query-term set — the
    ranked-retrieval primitive of a curation/eval pipeline (the retrieval
    analog of the reference's evaluator scoring, evaluation/evaluator.py:
    16-55). Lucene-shaped idf = ln((N - df + .5)/(df + .5) + 1), so scores
    stay positive even for terms in most documents.

    Scale shape: ONE word explode + one doc_id agg computes dl and every
    per-term tf as conditional sums (no per-term scan); df/N/avgdl ride
    along as a broadcast single-row frame (same pattern as
    unigram_surprisal — never a driver constant, the query stays one lazy
    DAG). Per-term contributions are summed in FIXED term order so the
    double summation is engine-identical; final score floor-rounded at
    1e-6 (the repo's deterministic round)."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    per_doc = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum((F.col("w") == t).cast("long")).alias(f"tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    totals = w.agg(
        F.count_distinct("doc_id").cast("double").alias("n_docs"),
        (
            F.count(F.lit(1)).cast("double")
            / F.count_distinct("doc_id").cast("double")
        ).alias("avgdl"),
        *[
            F.count_distinct(F.when(F.col("w") == t, F.col("doc_id")))
            .cast("double")
            .alias(f"df_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(totals))
    score = None
    for i in range(len(BM25_TERMS)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        tf = F.col(f"tf_{i}").cast("double")
        term = idf * (
            tf
            * F.lit(BM25_K1 + 1.0)
            / (
                tf
                + F.lit(BM25_K1)
                * (
                    F.lit(1.0 - BM25_B)
                    + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
                )
            )
        )
        score = term if score is None else score + term
    return scored.select(
        "doc_id",
        "dl",
        (F.floor(score * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("bm25"),
    )


def _sql_bm25() -> str:
    tf_cols = ",\n       ".join(
        f"SUM(CASE WHEN w = '{t}' THEN 1 ELSE 0 END) AS tf_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n       ".join(
        f"COUNT(DISTINCT CASE WHEN w = '{t}' THEN doc_id END)::DOUBLE"
        f" AS df_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    terms = " + ".join(
        f"(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * (CAST(tf_{i} AS DOUBLE) * {BM25_K1 + 1.0!r}"
        f" / (CAST(tf_{i} AS DOUBLE) + {BM25_K1!r}"
        f" * ({1.0 - BM25_B!r} + {BM25_B!r} * dl / avgdl))))"
        for i in range(len(BM25_TERMS))
    )
    return f"""
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
per_doc AS (
  SELECT doc_id, COUNT(*) AS dl,
       {tf_cols}
  FROM w GROUP BY doc_id),
totals AS (
  SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n_docs,
       COUNT(*)::DOUBLE / COUNT(DISTINCT doc_id)::DOUBLE AS avgdl,
       {df_cols}
  FROM w)
SELECT doc_id, CAST(dl AS BIGINT) AS dl,
       FLOOR(({terms}) * 1e6 + 0.5) / 1e6 AS bm25
FROM per_doc CROSS JOIN totals
"""


def _q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·idf (idf = ln(N/df),
    rank on floor-rounded score then term asc) — the doc-level keyword
    profile of a curation pass. Same WindowGroupLimit shape as
    top_ngrams_by_source: Spark 4 pre-prunes the rank<=3 window map-side
    before the per-doc exchange."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    tf = w.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = w.groupBy("w").agg(
        F.count_distinct("doc_id").cast("double").alias("df")
    )
    n = w.agg(F.count_distinct("doc_id").cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            (
                F.floor(
                    F.col("tf")
                    * F.log(F.col("n_docs") / F.col("df"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("tfidf"),
        )
    )
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "rank", "tfidf")
    )


_SQL_TFIDF_TOPTERMS = """
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY 1, 2),
df AS (SELECT w, COUNT(DISTINCT doc_id)::DOUBLE AS df FROM w GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n_docs FROM w),
scored AS (
  SELECT doc_id, w AS term, CAST(tf AS BIGINT) AS tf,
         FLOOR(tf * ln(n_docs / df) * 1e6 + 0.5) / 1e6 AS tfidf
  FROM tf JOIN df USING (w) CROSS JOIN n),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored)
SELECT doc_id, term, tf, rank, tfidf FROM ranked WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# bigram language-model report (add-k conditional probabilities)
# --------------------------------------------------------------------------

_LM_K = 0.5  # add-k smoothing constant, identical literal on both engines


def _q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram LM slice: for the 10 most frequent context words w1,
    the top-3 continuations w2 with add-k smoothed conditional probability
    P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V) — the counting core of n-gram
    LM training / data-quality scoring over the documents corpus.

    Shape: posexplode + per-doc lead window (one doc_id exchange, shared
    with the existing text family), one (w1,w2) count exchange, context
    totals re-aggregated FROM the bigram counts (tiny frame, not a second
    corpus pass), vocabulary size as a broadcast single-row frame (BNLJ,
    never CartesianProduct). Probabilities are exact-integer-count
    arithmetic finished with the half-up floor at 1e-6; ties rank by
    count desc then word asc on both engines."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # No exchange before the explode: one measured 1.19x slower at both
    # sf0.1 and sf1.0.
    w = docs.select("doc_id", "text").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w1")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    # persisted: three consumers (context totals, vocabulary, ranking)
    # would otherwise each re-run the posexplode + window + count chain
    # (same rationale as the dedup shingle frame, operators/dedup.py)
    bi = (
        w.withColumn("w2", F.lead("w1").over(wd))
        .where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    cw = bi.groupBy("w1").agg(F.sum("c").cast("long").alias("cw"))
    vocab = bi.agg(F.count_distinct("w2").alias("v"))
    top_ctx = (
        cw.withColumn(
            "w1_rank",
            F.row_number().over(
                Window.orderBy(F.col("cw").desc(), "w1")
            ),
        )
        .where(F.col("w1_rank") <= 10)
    )
    ranked = (
        bi.join(F.broadcast(top_ctx), "w1")
        .withColumn(
            "w2_rank",
            F.row_number().over(
                Window.partitionBy("w1").orderBy(F.col("c").desc(), "w2")
            ),
        )
        .where(F.col("w2_rank") <= 3)
        .crossJoin(F.broadcast(vocab))
    )
    p = (F.col("c").cast("double") + F.lit(_LM_K)) / (
        F.col("cw").cast("double") + F.lit(_LM_K) * F.col("v").cast("double")
    )
    return ranked.select(
        "w1_rank",
        "w1",
        "w2_rank",
        "w2",
        F.col("c").cast("long").alias("c"),
        (F.floor(p * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("p"),
    ).orderBy("w1_rank", "w2_rank")


_SQL_BIGRAM_LM = f"""
WITH l AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
w AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w1
      FROM l),
pairs AS (
  SELECT doc_id, w1,
         LEAD(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM w),
bi AS (SELECT w1, w2, COUNT(*) AS c FROM pairs WHERE w2 IS NOT NULL
       GROUP BY 1, 2),
cw AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cw FROM bi GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM bi),
top_ctx AS (
  SELECT w1, cw,
         ROW_NUMBER() OVER (ORDER BY cw DESC, w1) AS w1_rank
  FROM cw),
ranked AS (
  SELECT t.w1_rank, b.w1, b.w2, b.c, t.cw,
         ROW_NUMBER() OVER (PARTITION BY b.w1 ORDER BY b.c DESC, b.w2)
           AS w2_rank
  FROM bi b JOIN top_ctx t ON b.w1 = t.w1 AND t.w1_rank <= 10)
SELECT CAST(w1_rank AS INT) AS w1_rank, w1,
       CAST(w2_rank AS INT) AS w2_rank, w2,
       CAST(c AS BIGINT) AS c,
       FLOOR((CAST(c AS DOUBLE) + {_LM_K})
             / (CAST(cw AS DOUBLE) + {_LM_K} * CAST(v AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS p
FROM ranked CROSS JOIN vocab
WHERE w2_rank <= 3
ORDER BY 1, 3
"""


def _q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram cross-entropy under the corpus's OWN add-k
    bigram LM — the curation perplexity filter one step up from
    unigram_surprisal (what a pipeline runs before paying for a neural
    LM): high score = improbable continuations (noise/garbled text),
    abnormally LOW score = boilerplate the corpus has memorized. Composes
    the bigram_lm counting machinery end-to-end: same tokenization, same
    add-k smoothing P(w2|w1) = (c+k)/(cw+k·V).

    Shape: one posexplode + per-doc lead window (the text family's shared
    doc_id exchange) → per-(doc,w1,w2) pre-aggregation (shrinks the join
    input to distinct bigrams per doc) → join against the corpus bigram
    counts (one (w1,w2) exchange) and context totals; vocab rides as a
    broadcast single-row frame. Per-doc mean is a count-weighted avg
    rounded at 1e-6 (absorbs double summation-order noise, the
    unigram_surprisal convention)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # No exchange before the explode: one measured 1.2x slower at sf0.1
    # and 0.93x at sf1.0, inside noise.
    w = docs.select("doc_id", "text").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w1")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        w.withColumn("w2", F.lead("w1").over(wd))
        .where(F.col("w2").isNotNull())
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("dc"))
        .persist()  # two consumers: corpus counts AND the scored join
    )
    bi = pairs.groupBy("w1", "w2").agg(F.sum("dc").cast("long").alias("c"))
    cw = bi.groupBy("w1").agg(F.sum("c").cast("long").alias("cw"))
    vocab = bi.agg(F.count_distinct("w2").alias("v"))
    logp = F.log(
        (F.col("c").cast("double") + F.lit(_LM_K))
        / (F.col("cw").cast("double") + F.lit(_LM_K) * F.col("v").cast("double"))
    )
    scored = (
        pairs.join(bi, ["w1", "w2"])
        .join(cw, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "dc", (-logp).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("dc").cast("long").alias("n_bigrams"),
        F.round(
            F.sum(F.col("dc").cast("double") * F.col("nll"))
            / F.sum(F.col("dc").cast("double")),
            6,
        ).alias("xent"),
    )


_SQL_DOC_PERPLEXITY = f"""
WITH l AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
w AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w1
      FROM l),
p0 AS (
  SELECT doc_id, w1,
         LEAD(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM w),
pairs AS (SELECT doc_id, w1, w2, COUNT(*) AS dc FROM p0
          WHERE w2 IS NOT NULL GROUP BY 1, 2, 3),
bi AS (SELECT w1, w2, CAST(SUM(dc) AS BIGINT) AS c FROM pairs GROUP BY 1, 2),
cw AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cw FROM bi GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM bi)
SELECT p.doc_id,
       CAST(SUM(p.dc) AS BIGINT) AS n_bigrams,
       ROUND(SUM(CAST(p.dc AS DOUBLE)
                 * -ln((CAST(b.c AS DOUBLE) + {_LM_K})
                       / (CAST(c.cw AS DOUBLE)
                          + {_LM_K} * CAST(v.v AS DOUBLE))))
             / SUM(CAST(p.dc AS DOUBLE)), 6) AS xent
FROM pairs p
JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2
JOIN cw c ON p.w1 = c.w1
CROSS JOIN vocab v
GROUP BY p.doc_id
"""


QUERIES = {
    "text_features": (_q_text_features, _sql_text_features()),
    "doc_repetition": (_q_doc_repetition, _SQL_DOC_REPETITION),
    "contamination": (_q_contamination, _SQL_CONTAMINATION),
    "length_buckets": (_q_length_buckets, _SQL_LENGTH_BUCKETS),
    "token_vocab": (_q_token_vocab, _SQL_TOKEN_VOCAB),
    "json_props": (_q_json_props, _SQL_JSON_PROPS),
    "unigram_surprisal": (_q_unigram_surprisal, _SQL_UNIGRAM_SURPRISAL),
    "top_ngrams_by_source": (
        _q_top_ngrams_by_source, _SQL_TOP_NGRAMS_BY_SOURCE
    ),
    "bm25_scores": (_q_bm25_scores, _sql_bm25()),
    "tfidf_topterms": (_q_tfidf_topterms, _SQL_TFIDF_TOPTERMS),
    "bigram_lm": (_q_bigram_lm, _SQL_BIGRAM_LM),
    "doc_perplexity": (_q_doc_perplexity, _SQL_DOC_PERPLEXITY),
}

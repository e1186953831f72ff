"""BPE tokenizer training: the iterative most-frequent-pair merge loop
(Sennrich et al. 2016), the one corpus-scale counting loop an LLM data
stack runs that plain aggregation can't express (VERDICT r05 #3).

Scale shape: the corpus is scanned ONCE into a word-frequency table
(:func:`bpe_word_counts`); everything after that operates on the
VOCABULARY-bounded (word, cnt) frame, never the corpus. The whole greedy
merge loop then runs as ONE grouped-map kernel,
``wc.groupBy(<constant>).applyInPandas(...)``: a single Python worker holds
the vocabulary (distinct words and their symbol lists), recounts the
adjacent pairs and applies the argmax merge each round. The bound is the
vocabulary, which must fit in that one worker; the corpus never has to.
The builder runs no Spark job: the loop runs once, when the plan
executes.

Pinned semantics (the DuckDB oracle in ``queries/tokensq.py`` replays the
rounds as unrolled window CTEs and must agree bit for bit):
  * argmax tie-break: count DESC, left ASC, right ASC. Python compares
    str by code point, which is the UTF-8 byte order Spark and DuckDB
    compare by;
  * applying merge (a, b) replaces LEFTMOST-FIRST non-overlapping
    adjacent occurrences (``aaa`` under (a, a) → ``aa a``);
  * the loop stops early when no adjacent pair is left.

Encoding (:func:`bpe_encode_words`) replays learned merges per word with
the same rule, so it runs per batch in a ``mapInPandas`` and needs no
single task.

No reference analog (the reference corpus is audio); this is the
standard subword-vocabulary construction of an LLM pipeline.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bpe_word_counts",
    "bpe_learn",
    "bpe_encode_words",
]

_MERGE_COLS = ["merge_round", "left_sym", "right_sym", "merged", "pair_count"]
_MERGE_SCHEMA = (
    "merge_round int, left_sym string, right_sym string, "
    "merged string, pair_count long"
)
_SYM_COLS = ["word", "cnt", "pos", "s"]
_SYM_SCHEMA = "word string, cnt long, pos int, s string"


def bpe_word_counts(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The ONE corpus pass: whitespace words → (word, cnt). Everything
    downstream is vocabulary-bounded.

    Deliberately NOT pre-repartitioned (r07): the map-side partial
    aggregate collapses the exploded words to the (small) vocabulary
    inside the scan stage, so the one exchange already carries almost
    nothing — an up-front repartition added a full text exchange and
    measured 0.49 → 0.88 s at sf1.0 (aggregate-before-shuffle beats
    spread-then-aggregate here, guide §2.3)."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge(s: list[str], a: str, b: str) -> list[str]:
    """Merge (a, b) → a+b over one symbol list, leftmost-first and
    non-overlapping."""
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _learn(wc: pd.DataFrame, n_merges: int):
    """The greedy loop over the whole vocabulary: (merge rows, symbol
    lists aligned with ``wc``)."""
    cnts = [int(c) for c in wc["cnt"]]
    syms = [list(w) for w in wc["word"]]
    merges = []
    for r in range(1, n_merges + 1):
        pairs: dict[tuple[str, str], int] = {}
        for s, c in zip(syms, cnts):
            for p in zip(s, s[1:]):
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, a + b, n))
        syms = [_merge(s, a, b) for s in syms]
    return merges, syms


def _symbol_rows(wc: pd.DataFrame, syms: list[list[str]]) -> pd.DataFrame:
    """(word, cnt, pos, s): one row per symbol, in position order."""
    rows = [
        (w, int(c), i, t)
        for w, c, s in zip(wc["word"], wc["cnt"], syms)
        for i, t in enumerate(s)
    ]
    return pd.DataFrame(rows, columns=_SYM_COLS)


def bpe_learn(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    with_symbols: bool = False,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus. Returns the merge
    table as a lazy DataFrame: (merge_round, left_sym, right_sym, merged,
    pair_count) in learning order — the artifact a tokenizer trainer
    ships. Fewer rows when the vocabulary fully merges first; none for an
    empty corpus.

    One kernel over the word-count frame (see module docstring): the
    vocabulary sits in one Python worker; no job runs before the plan
    executes.

    ``with_symbols=True`` also returns the post-merge symbol table
    (word string, cnt long, pos int, s string) — the learned tokenization
    of the vocabulary, from a second kernel over the same frame that
    reruns the loop."""
    # aliased: a bare integer literal would be read as a GROUP BY ordinal
    one = bpe_word_counts(df, text_col).groupBy(F.lit(0).alias("_all"))

    def merges_kernel(wc: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(_learn(wc, n_merges)[0], columns=_MERGE_COLS)

    mdf = one.applyInPandas(merges_kernel, _MERGE_SCHEMA)
    if not with_symbols:
        return mdf

    def symbols_kernel(wc: pd.DataFrame) -> pd.DataFrame:
        return _symbol_rows(wc, _learn(wc, n_merges)[1])

    return mdf, one.applyInPandas(symbols_kernel, _SYM_SCHEMA)


def bpe_encode_words(
    wc: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Apply an already-learned merge list to a (word, cnt) table — the
    ENCODE side of the tokenizer: new/foreign words tokenize under the
    frozen vocabulary by replaying the merges in learning order (the
    standard BPE inference rule). Returns (word, cnt, pos, s) with s the
    subword tokens in position order. Per word, so it runs per batch."""
    merges = [(a, b) for a, b in merges]

    def encode(batches):
        for pdf in batches:
            syms = [list(w) for w in pdf["word"]]
            for a, b in merges:
                syms = [_merge(s, a, b) for s in syms]
            yield _symbol_rows(pdf, syms)

    return wc.select("word", F.col("cnt").cast("long")).mapInPandas(
        encode, _SYM_SCHEMA
    )

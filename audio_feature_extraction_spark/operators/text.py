"""Text analysis for training-data curation: language-ID, quality scoring,
token counting, document fingerprinting.

All pure column expressions (whole-stage-codegen; zero Python), and every
primitive is chosen to be reproducible in the DuckDB oracle:
- the document fingerprint is the md5 hex of the raw text;
- ratios round(…, 6) at the emit boundary.

The quality ladder mirrors the reference's deduction scoring
(`04_feature_extraction_experiment/feature_extractor.py:220-227`): start at
1.0, −0.3 per violated predicate, floor at 0.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.dedup import words

# tiny per-language marker lexicons (public stopwords); the heuristic is the
# classic "most marker hits wins", deterministic tiebreak by list order
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "和"],
}

BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def bpe_ish_token_count(text_col: str) -> Column:
    """Count of GPT-2-style pre-tokenizer matches (letters runs / digit runs /
    single punctuation) — the standard cheap token estimate."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0))


def marker_hits(
    text_col: str, markers: list[str], w: Column | None = None
) -> Column:
    """Total occurrences of any marker word.

    ASCII markers count as whole space-split words via
    Σ (size(w) − size(array_remove(w, m))) — collection functions stay in
    whole-stage codegen (the ``F.filter`` lambda equivalent is
    CodegenFallback-interpreted, ~4× slower). Non-ASCII markers (the zh
    lexicon) count as SUBSTRING occurrences — CJK text is not
    space-delimited, so word-level matching would never fire for it.

    ``w``: optionally a PRE-SPLIT words array Column. Every marker reference
    re-evaluates its words tree when it is an inline ``split`` (common
    subexpression elimination does not reliably fire across the many
    references in a wide projection — measured 8.3 s vs 1.9 s on the sf1.0
    50k-doc frame, r07), so callers computing several hit counts should
    project ``words(text)`` once and pass the column reference."""
    w = words(text_col) if w is None else w
    n = F.size(w)
    t = F.col(text_col)
    out = F.lit(0)
    for m in markers:
        if m.isascii():
            out = out + (n - F.size(F.array_remove(w, m)))
        else:
            diff = F.length(t) - F.length(F.replace(t, F.lit(m), F.lit("")))
            out = out + (diff / F.lit(len(m))).cast("int")
    return out


def quality_score(text_col: str, w: Column | None = None) -> Column:
    """Deduction ladder: −0.3 each for (too short, too repetitive, words too
    long/short on average), floored at 0. ``w``: optional pre-split words
    array (see marker_hits)."""
    if w is None:
        w = words(text_col)
    wc = F.size(w)
    awl = (F.length(text_col) - (wc - 1)) / wc
    dwr = F.size(F.array_distinct(w)) / wc
    return F.greatest(
        F.lit(1.0)
        - F.when(wc < 20, F.lit(0.3)).otherwise(F.lit(0.0))
        - F.when(dwr < 0.4, F.lit(0.3)).otherwise(F.lit(0.0))
        - F.when((awl < 2.5) | (awl > 12.0), F.lit(0.3)).otherwise(F.lit(0.0)),
        F.lit(0.0),
    )


def lang_hits(text_col: str, w: Column | None = None) -> dict[str, Column]:
    """One marker-hit count Column per language, for the two-projection
    lang-ID plan: project these once, then :func:`lang_pick` over the cheap
    integer columns. Keeping the expensive split/array_remove trees in their
    own projection lets codegen evaluate each ONCE per row — inlining them
    into the winner CASE repeats every hits tree in several conditional
    branches, which defeats common-subexpression elimination (conditional
    branches are not guaranteed-evaluated) and measured 5.5 s vs 0.5 s on
    the 50k-doc frame (r07)."""
    return {
        lang: marker_hits(text_col, markers, w=w)
        for lang, markers in LANG_MARKERS.items()
    }


def lang_pick(hits: dict[str, Column]) -> Column:
    """Winner over precomputed hit columns: the lang with the most marker
    hits; ties resolve to the first lang in LANG_MARKERS order among the
    tied max; ZERO hits everywhere returns 'und' (out-of-lexicon text is
    undetermined, not defaulted to 'en'). Same flat-CASE shape as the
    DuckDB oracle mirror."""
    gm = F.greatest(*hits.values())
    out = F.lit("und")
    for lang in reversed(list(hits)):
        out = F.when(hits[lang] == gm, F.lit(lang)).otherwise(out)
    return F.when(gm == 0, F.lit("und")).otherwise(out)


def doc_fingerprint(text_col: str) -> Column:
    """Whole-document fingerprint: md5 of the raw text."""
    return F.md5(F.col(text_col))

"""Text-analysis column functions for large-scale training-data
pipelines: token counting, quality scoring, language-ID heuristics,
document fingerprinting.

All functions are compositions of built-in `pyspark.sql.functions`
(JVM-side, inside WholeStageCodegen) — no Python UDFs — so they run at
scan speed over 100 TB of text. Each has an exact ANSI-SQL equivalent
used by the DuckDB oracle (see operators/text.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from onehouse_demos_spark.functions.hashing import md5_60

#: Tiny per-language stopword marker sets for the n-gram/stopword
#: language-ID heuristic. Deliberately small and public-knowledge; the
#: heuristic is argmax of whole-word hit counts.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "to"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "los", "que", "de"],
}


def normalize_text(col) -> Column:
    """Lowercase + collapse whitespace — canonical form for hashing."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def token_count(col) -> Column:
    """Whitespace tokenization; empty string counts 0 tokens."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def word_token_count(col) -> Column:
    """BPE-ish tokenization: words, numbers, and punctuation runs each
    count as a token (regex-based approximation of byte-pair behavior)."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def stopword_hits(col, words: list[str]) -> Column:
    """Count of whole-word occurrences of any of `words`."""
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pattern), 0))


def punct_ratio(col) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    n = F.length(col)
    p = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(p / n)


def quality_score(col) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword
    presence − punctuation noise. Deterministic, SQL-expressible."""
    toks = token_count(col)
    len_ok = F.when((toks >= 5) & (toks <= 5000), F.lit(0.5)).otherwise(F.lit(0.0))
    stop_ok = F.when(
        stopword_hits(col, LANG_MARKERS["en"]) > 0, F.lit(0.3)
    ).otherwise(F.lit(0.0))
    punct_pen = F.least(punct_ratio(col) * F.lit(2.0), F.lit(0.2))
    return F.round(len_ok + stop_ok + F.lit(0.2) - punct_pen, 4)


def lang_id(col) -> Column:
    """Heuristic language ID: argmax of marker-word hits, 'und' if no
    hits. Ties break by language-code order (deterministic)."""
    scored = None
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    # Build a deterministic argmax chain: iterate in fixed order and
    # require a STRICT improvement to switch, so earlier codes win ties.
    for code in sorted(LANG_MARKERS):
        hits = stopword_hits(col, LANG_MARKERS[code])
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(code)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
        scored = True
    assert scored
    return best_lang


def fingerprint64(col) -> Column:
    """64-bit-ish deterministic content fingerprint: first 15 hex chars
    of md5 of the normalized text, as a BIGINT. Engine-portable (DuckDB
    computes the identical value) unlike xxhash64/murmur."""
    return md5_60(normalize_text(col))


def shingles(col, n: int = 3) -> Column:
    """Word n-gram shingle array over normalized text (for Jaccard /
    MinHash dedup). Uses built-in tokenize+transform — no UDF."""
    toks = F.split(normalize_text(col), " ")
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    return F.when(cnt < n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )

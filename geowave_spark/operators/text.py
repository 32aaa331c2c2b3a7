"""Text-analysis operators for training-data pipelines.

Beyond-reference operators (driver brief): language-ID, quality scoring,
token counting, document fingerprinting — each over the `documents` table.
Where the math is expressible with built-in SQL functions we stay entirely
in Catalyst (replace/length arithmetic, md5) so an external ANSI-SQL oracle
reproduces results exactly; the BPE-ish regex tokenizer uses built-in
regexp functions (still JVM-side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def occurrences(col: Column, needle: str) -> Column:
    """Count of non-overlapping occurrences of a literal substring —
    (len(s) - len(replace(s, needle, ''))) / len(needle), portable SQL."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def token_count(col: Column) -> Column:
    """Whitespace token count: single-space-separated corpora → spaces+1."""
    return (occurrences(col, " ") + F.lit(1)).cast("long")


# language marker words (space-padded so they match whole tokens)
_LANG_MARKERS = {
    "en": [" the ", " a ", " of "],
    "fr": [" le ", " la ", " de "],
    "de": [" der ", " die ", " und "],
    "es": [" el ", " los ", " de "],
    "zh": [" 的 ", " 是 ", " 在 "],
}


def language_scores(col: Column) -> dict[str, Column]:
    """Per-language marker-token frequency (n-gram heuristic, portable)."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    return {
        lang: sum((occurrences(padded, m) for m in markers), F.lit(0).cast("long"))
        for lang, markers in _LANG_MARKERS.items()
    }


def language_id(col: Column) -> Column:
    """argmax language by marker score; deterministic tie-break by language
    code order; 'und' when all scores are zero."""
    scores = language_scores(col)
    langs = sorted(scores)
    best = None
    for lang in langs:
        s = scores[lang]
        if best is None:
            best = (s, F.lit(lang))
        else:
            bs, bl = best
            best = (F.greatest(bs, s), F.when(s > bs, F.lit(lang)).otherwise(bl))
    bs, bl = best
    return F.when(bs > 0, bl).otherwise(F.lit("und"))


def quality_features(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality-scoring features: length, token count, mean token length,
    stopword ratio, digit ratio — all replace/length arithmetic (portable).
    Ratios are rounded to 6 decimals to make float output hash-stable."""
    c = F.col(text)
    n_tok = token_count(c)
    stop = sum(
        (occurrences(F.concat(F.lit(" "), c, F.lit(" ")), f" {w} ") for w in ("the", "a", "of", "and")),
        F.lit(0).cast("long"),
    )
    digits = sum((occurrences(c, d) for d in "0123456789"), F.lit(0).cast("long"))
    return df.select(
        F.col(id_col),
        F.length(c).alias("n_chars_c"),
        n_tok.alias("n_tokens"),
        F.round(F.length(c) / n_tok, 6).alias("mean_tok_len"),
        F.round(stop / n_tok, 6).alias("stopword_ratio"),
        F.round(digits / F.length(c), 6).alias("digit_ratio"),
    )


def fingerprint(col: Column, bits: int = 64) -> Column:
    """Deterministic document fingerprint: md5 hex prefix (16 hex chars =
    64 bits).  md5 is identical across engines → exact oracle support."""
    return F.substring(F.md5(col), 1, bits // 4)

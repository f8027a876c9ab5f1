"""Text-analysis expression recipes for the LLM-data-pipeline operators.

All built from pyspark.sql.functions so they stay inside whole-stage codegen
— at 100 TB of documents these run per-row in the scan stage with zero
Python involvement. (Extension surface beyond the reference; exercised on
the driver's `documents` table.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword language
# heuristic. Deliberately small and unambiguous — these are markers, not a
# full lexicon; ties broken by precedence order below.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "that", "with"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit"),
    "fr": ("le", "la", "les", "et", "est", "que", "pour"),
    "es": ("el", "los", "las", "es", "una", "para", "como"),
}


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(col: str | Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    trimmed = F.trim(_c(col))
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(col: str | Column) -> Column:
    """Sub-word-ish token count: runs of letters, runs of digits, or single
    non-space symbols — a cheap BPE proxy for budget estimation."""
    return F.size(
        F.regexp_extract_all(_c(col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))
    )


def char_count(col: str | Column) -> Column:
    return F.length(_c(col))


def punct_ratio(col: str | Column) -> Column:
    """Punctuation chars / total chars (0.0 for empty text)."""
    c = _c(col)
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        punct.cast("double") / F.length(c).cast("double")
    )


def stopword_count(col: str | Column, stopwords: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """Count of stopword-marker tokens (case-insensitive, word-bounded)."""
    lowered = F.lower(_c(col))
    pattern = r"\b(" + "|".join(stopwords) + r")\b"
    return F.size(F.regexp_extract_all(lowered, F.lit(pattern), F.lit(0)))


def stopword_ratio(col: str | Column, stopwords: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    tokens = token_count(col)
    return F.when(tokens == 0, F.lit(0.0)).otherwise(
        stopword_count(col, stopwords).cast("double") / tokens.cast("double")
    )


def quality_score(col: str | Column) -> Column:
    """Heuristic [0,1] quality score: rewards reasonable length, penalizes
    punctuation soup and stopword-free (non-linguistic) text.

    score = 0.4*min(tokens,100)/100 + 0.3*(1-punct_ratio) + 0.3*min(stop_ratio*4, 1)
    """
    tok = F.least(token_count(col).cast("double"), F.lit(100.0)) / F.lit(100.0)
    punct = F.lit(1.0) - punct_ratio(col)
    stop = F.least(stopword_ratio(col) * F.lit(4.0), F.lit(1.0))
    return F.round(F.lit(0.4) * tok + F.lit(0.3) * punct + F.lit(0.3) * stop, 6)


def lang_id(col: str | Column) -> Column:
    """Stopword-marker language heuristic: score each candidate language by
    marker-token hits, pick the argmax (ties → LANG_MARKERS order), 'und'
    (undetermined) when nothing matches."""
    scores = {lang: stopword_count(col, markers) for lang, markers in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    best = F.lit("und")
    best_score = F.lit(0)
    # Iterate in reverse precedence so earlier languages win ties.
    for lang in reversed(langs):
        s = scores[lang]
        best = F.when(s >= F.greatest(best_score, F.lit(1)), F.lit(lang)).otherwise(best)
        best_score = F.greatest(best_score, s)
    return best


def shingles(col: str | Column, k: int = 3) -> Column:
    """Word k-shingles as array<string> (lowercased, whitespace-tokenized).
    Texts shorter than k tokens yield their whole token string as the single
    shingle. Built with transform/slice/array_join — no explode needed.

    The token array is BOUND ONCE per row as a lambda variable (the
    1-element-array transform below): codegen subexpression elimination
    does not cross lambda boundaries, so referencing the split() directly
    inside the per-shingle lambda would re-run the regex tokenizer for
    EVERY shingle — measured 5× slower over the documents table. Lambda
    variables are plain attributes, so the inner references are free."""
    toks = F.split(F.lower(F.trim(_c(col))), r"\s+")

    def _over_tokens(tk: Column) -> Column:
        n = F.size(tk)
        # sequence of start offsets 1..n-k+1 (or just [1] for short docs)
        starts = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
        return F.transform(
            starts, lambda i: F.array_join(F.slice(tk, i, k), " ")
        )

    return F.element_at(F.transform(F.array(toks), _over_tokens), 1)


def fingerprint(col: str | Column) -> Column:
    """Document fingerprint: md5 hex of the normalized text (lowercase,
    punctuation stripped, whitespace collapsed, trimmed). Equal
    fingerprints ⇒ near-identical normalized content — the exact-dedup
    key. md5 is reproduced bit-identically by any SQL engine, so
    fingerprint-dedup results can be oracle-verified."""
    return F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(_c(col)), r"[!-/:-@\[-`{-~]", " "),
                r"\s+",
                " ",
            )
        )
    )

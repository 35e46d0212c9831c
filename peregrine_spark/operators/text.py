"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, rolling-hash fingerprinting.

Everything is JVM expressions (split/regexp/aggregate) — whole-stage
codegen, zero Python in the hot path. Each operator has an exact ANSI-SQL
restatement in plans/oracles_text.py for the DuckDB harness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "as", "with", "was", "at", "by", "be",
]

# crude n-gram/charset language heuristic — deterministic, SQL-expressible
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " la ", " et "],
    "es": [" el ", " que ", " de "],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens (single-space split to stay oracle-portable)."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens, n_chars2, avg_token_len — the basic length stats."""
    t = tokens(F.col(text_col))
    return (
        df.withColumn("n_tokens", F.size(t))
        .withColumn("n_chars2", F.length(text_col))
        .withColumn(
            "avg_token_len",
            F.when(
                F.size(t) > 0,
                F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x))
                / F.size(t),
            ).otherwise(F.lit(0.0)),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds quality heuristics (stopword_ratio, punct_ratio, upper_ratio)
    and a combined `quality` in [0,1] — the standard cheap pre-filters a
    100 TB corpus pass runs before any model-based scoring."""
    t = tokens(F.lower(F.col(text_col)))
    n = F.size(t)
    stop = F.size(F.filter(t, lambda x: x.isin(STOPWORDS)))
    length = F.length(text_col)
    punct = length - F.length(F.regexp_replace(F.col(text_col), r"[.,;:!?]", ""))
    upper = length - F.length(F.regexp_replace(F.col(text_col), r"[A-Z]", ""))
    df = (
        df.withColumn(
            "stopword_ratio",
            F.when(n > 0, stop / n).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "punct_ratio",
            F.when(length > 0, punct / length).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "upper_ratio",
            F.when(length > 0, upper / length).otherwise(F.lit(0.0)),
        )
    )
    q = (
        F.least(F.col("stopword_ratio") * 4, F.lit(1.0)) * 0.5
        + (1 - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * 0.25
        + (1 - F.least(F.col("upper_ratio") * 5, F.lit(1.0))) * 0.25
    )
    return df.withColumn("quality", q)


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds `lang_guess`: marker-count argmax over LANG_MARKERS, ties and
    zero-evidence → 'und'. Deterministic and SQL-portable (no regex)."""
    low = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))

    def count_markers(ms: list[str]) -> Column:
        out = F.lit(0)
        for m in ms:
            # non-overlapping occurrence count via length difference
            out = out + (F.length(low) - F.length(F.replace(low, F.lit(m), F.lit("")))) / len(m)
        return out

    scores = [(lang, count_markers(ms)) for lang, ms in LANG_MARKERS.items()]
    best_score = F.greatest(*[s for _, s in scores])
    guess = F.lit("und")
    # reverse order so earlier languages win ties deterministically
    for lang, s in reversed(scores):
        guess = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(guess)
    return df.withColumn("lang_guess", guess)


def fingerprint(df: DataFrame, text_col: str = "text", window: int = 8) -> DataFrame:
    """Adds `fingerprint`: winnowing-style document fingerprint — min
    xxhash64 over each window of consecutive token hashes, distinct-
    collected. A compact signature for fuzzy containment checks."""
    t = tokens(F.lower(F.col(text_col)))
    n = F.size(t)
    idxs = F.sequence(F.lit(0), F.greatest(n - window, F.lit(0)))
    # hash each token ONCE, then slice the hash array per window — the
    # inner-slice form re-hashed every token `window` times
    th = F.transform(t, lambda x: F.xxhash64(x))
    mins = F.transform(
        idxs, lambda i: F.array_min(F.slice(th, i + 1, window))
    )
    return df.withColumn("fingerprint", F.array_distinct(mins))

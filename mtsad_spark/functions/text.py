"""Text analysis for training-data pipelines: whitespace token counting and
heuristic quality scoring.

Everything is built-in ``pyspark.sql.functions`` string/regex expressions —
whole-stage-codegen'd, pushdown-friendly, no Python. Each function ADDS
columns so they compose in one projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def whitespace_token_count(text: Column) -> Column:
    """Tokens = maximal non-space runs (regexp_count, JVM-side)."""
    return F.regexp_count(text, F.lit(r"\S+"))


def with_quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Length / punctuation / stopword / repetition features + a quality flag.

    Heuristics follow public web-corpus filtering practice (C4/Gopher-style
    rules): bounded length, bounded mean word length, symbol ratio, stopword
    presence.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = whitespace_token_count(t)
    # single-char-class counts via translate (r7, guide §1.2 per-task work):
    # a char-map pass is several times cheaper than the regex engine and
    # counts the identical sets — [A-Za-z], [0-9], and [^\w\s] (Java \w is
    # ASCII [A-Za-z0-9_], \s is [ \t\n\x0B\f\r]; a char is punct iff it is
    # neither, i.e. whatever survives removing word + space chars).
    _alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    _digit = "0123456789"
    _space = " \t\n\x0b\f\r"
    n_alpha = n_chars - F.length(F.translate(t, _alpha, ""))
    n_punct = F.length(F.translate(t, _alpha + _digit + "_" + _space, ""))
    n_digit = n_chars - F.length(F.translate(t, _digit, ""))
    n_stop = F.regexp_count(
        F.lower(t), F.lit(r"\b(the|and|of|to|is|in|that|it|was|for)\b")
    )
    mean_word_len = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens)
    out = (
        df.withColumn("n_chars_m", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("mean_word_len", F.round(mean_word_len, 6))
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("digit_ratio", F.round(n_digit / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("alpha_ratio", F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("stopword_count", n_stop)
    )
    quality = (
        (F.col("n_tokens") >= 5)
        & (F.col("mean_word_len") >= 2)
        & (F.col("mean_word_len") <= 15)
        & (F.col("punct_ratio") <= 0.3)
        & (F.col("alpha_ratio") >= 0.5)
    )
    return out.withColumn("quality_ok", quality)

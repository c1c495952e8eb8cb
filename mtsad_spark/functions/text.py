"""Text analysis for training-data pipelines: whitespace token counting,
heuristic quality scoring, a language-ID heuristic, document fingerprints
and corpus statistics (vocabulary growth, Zipf slope).

Everything is built-in ``pyspark.sql.functions`` string/regex expressions —
whole-stage-codegen'd, pushdown-friendly, no Python. Each function ADDS
columns so they compose in one projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram heuristic
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
}


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


def with_lang_id(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Stopword-marker language heuristic: argmax of per-language marker hit
    counts; 'und' (undetermined) when nothing fires."""
    t = F.lower(F.col(text_col))
    scores = []
    out = df
    for lang, words in _LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        out = out.withColumn(f"_sc_{lang}", F.regexp_count(t, F.lit(pat)))
        scores.append(lang)
    best = None
    for lang in scores:
        c = F.col(f"_sc_{lang}")
        if best is None:
            best = F.struct(c.alias("s"), F.lit(lang).alias("l"))
        else:
            best = F.when(F.col(f"_sc_{lang}") > best["s"], F.struct(c.alias("s"), F.lit(lang).alias("l"))).otherwise(best)
    out = out.withColumn(
        out_col, F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))
    )
    return out.drop(*[f"_sc_{lang}" for lang in scores])


def content_fingerprint(text: Column) -> Column:
    """Normalization-invariant fingerprint: lowercase, strip non-alnum, md5.
    Portable across engines (same result in DuckDB: md5(regexp_replace(...)))."""
    return F.md5(F.regexp_replace(F.lower(text), r"[^a-z0-9]", ""))


def rolling_hash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, window: int = 32, stride: int = 16
) -> DataFrame:
    """Winnowing-style substring fingerprints: hash every stride-aligned
    window of the normalized text → (id, pos, fp). Basis for containment /
    plagiarism-style overlap detection at corpus scale."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    positions = F.sequence(
        F.lit(0),
        F.greatest((F.length(norm) - window), F.lit(0)),
        F.lit(stride),
    )
    fps = F.transform(positions, lambda p: F.xxhash64(F.substr(norm, p + 1, F.lit(window))))
    return df.select(
        F.col(id_col),
        F.posexplode(fps).alias("pos", "fp"),
    )


def vocab_growth(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    bucket_size: int,
) -> DataFrame:
    """Vocabulary growth curve per group — cumulative distinct token types
    vs cumulative token count along the corpus in ``id_col`` order, the
    empirical Heaps'-law curve (``V(n) ≈ K·n^β``, classic corpus
    statistics) used to diagnose dedup quality and corpus diversity in
    LLM-data pipelines. Beyond-reference pipeline surface over the same
    whitespace tokenization as the quality ops.

    Scale shape: the "first occurrence" of each type is a map-side-combined
    ``min(bucket)`` over (group, token) — never an ordered scan; per-bucket
    token totals are plain counts; the ONLY windows are cumulative sums per
    group over BUCKET rows (``n_docs / bucket_size`` — corpus-size / B,
    bounded by construction, the keyed-prefix-sum discipline). All outputs
    are BIGINT counts — exact, order-independent, engine-portable.

    Buckets are ``id − id % bucket_size`` (the bucket's first id; ids must
    be non-negative but need not be dense); empty buckets are simply
    absent. Returns
    ``(group, bucket, n_tokens, new_types, cum_tokens, cum_types)``.
    """
    from pyspark.sql import Window

    if bucket_size < 1:
        raise ValueError(f"bucket_size must be >= 1, got {bucket_size}")
    tok = df.select(
        F.col(group_col).alias("grp"),
        (F.col(id_col).cast("long") - (F.col(id_col).cast("long") % bucket_size))
        .alias("bucket"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")  # Spark split keeps boundary empties
    from mtsad_spark.plans.scope import scoped_persist

    # shared (grp, bucket, token) count feeds BOTH the first-occurrence and
    # the totals consumers (r7, guide §2.3) — previously each re-ran the
    # corpus explode; the persisted frame is bucket×vocab-bounded
    c = scoped_persist(
        tok.groupBy("grp", "bucket", "token").agg(F.count(F.lit(1)).alias("cnt"))
    )
    first = (
        c.groupBy("grp", "token")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("grp", "bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    totals = c.groupBy("grp", "bucket").agg(
        F.sum("cnt").alias("n_tokens")
    )
    j = totals.join(first, ["grp", "bucket"], "left").fillna(0, ["new_types"])
    cum = (
        Window.partitionBy("grp")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        j.withColumn("cum_tokens", F.sum("n_tokens").over(cum))
        .withColumn("cum_types", F.sum("new_types").over(cum))
        .withColumnRenamed("grp", group_col)
    )


def zipf_slope(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_k: int = 1000,
) -> DataFrame:
    """Zipf's-law log-log slope per group over whitespace token frequencies
    — the classic rank-frequency diagnostic (slope ≈ −1 for natural text,
    ≈ 0 for near-uniform token streams) LLM-data pipelines use to spot
    template/boilerplate-dominated or synthetic sources. Beyond-reference
    pipeline surface over the same whitespace tokenization as
    :func:`vocab_growth` / the quality ops.

    Exactness: x = L(rank), y = L(freq) with L = round(ln·10⁶) of INTEGER
    inputs (the lang_entropy quantized-log discipline, engine-portable), so
    the least-squares slope ``(m·Σxy − Σx·Σy) / (m·Σx² − (Σx)²)`` has
    BIGINT moment sums; the two cross products are carried in DECIMAL(38,0)
    (they exceed int64 at m = 1000) and the final slope is ONE double
    division. Contract: ``top_k ≤ 10⁴`` keeps Σxy within int64 at any
    corpus size (xy ≤ (28·10⁶)² ≈ 8·10¹⁴ per term).

    Scale shape: ranks come from a row_number over the VOCAB-BOUNDED
    (group, token) frequency frame (the token_heavy_hitters convention —
    never raw rows), pruned to top_k before the moment aggregate; groups
    with fewer than 2 kept terms are dropped (slope undefined).

    Returns ``(group, n_terms, slope)``.
    """
    from pyspark.sql import Window

    if not 1 < top_k <= 10_000:
        raise ValueError(f"top_k must be in (1, 10000], got {top_k}")
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")  # Spark split keeps boundary empties
    freq = tok.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("grp").orderBy(F.desc("cnt"), F.asc("token"))
    lnq = lambda c: F.round(F.log(c.cast("double")) * 1000000, 0).cast("long")
    r = (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "grp",
            lnq(F.col("rank")).alias("_x"),
            lnq(F.col("cnt")).alias("_y"),
        )
    )
    mo = r.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    num = dec("n_terms") * dec("_sxy") - dec("_sx") * dec("_sy")
    den = dec("n_terms") * dec("_sxx") - dec("_sx") * dec("_sx")
    return (
        mo.filter(F.col("n_terms") >= 2)
        .select(
            F.col("grp").alias(group_col),
            "n_terms",
            (num.cast("double") / den.cast("double")).alias("slope"),
        )
    )

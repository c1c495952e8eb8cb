"""Deterministic splits / sampling / set ops (SURVEY.md O1-O8, P2).

The reference splits positionally (80/20 by row index,
/root/reference/prediction/lstm_model.py:86-87) or stratified per class
(ensemblation/processor.py:405-416). At scale, positional semantics are
reproduced with ``row_number`` over an explicit total order — never
``randomSplit`` (non-deterministic across reruns) and never
``monotonically_increasing_id`` (partitioning-dependent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def positional_slice(
    df: DataFrame, order_col: str, start: int, end: int, keys: list[str] | None = None
) -> DataFrame:
    """P2: rows [start, end) by position within the (keys) order."""
    w = Window.partitionBy(*(keys or [])).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w) - 1)
        .filter((F.col("_rn") >= start) & (F.col("_rn") < end))
        .drop("_rn")
    )


def fraction_split(
    df: DataFrame, order_col: str, frac: float, keys: list[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """O3: deterministic 80/20-style positional split (lstm_model.py:86-87)."""
    keys = keys or []
    w = Window.partitionBy(*keys).orderBy(order_col)
    wk = Window.partitionBy(*keys)
    tagged = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wk)
    )
    cut = (F.col("_n") * frac).cast("long")
    train = tagged.filter(F.col("_rn") <= cut).drop("_rn", "_n")
    test = tagged.filter(F.col("_rn") > cut).drop("_rn", "_n")
    return train, test


def stratified_split(
    df: DataFrame, order_col: str, class_col: str, frac: float
) -> tuple[DataFrame, DataFrame]:
    """O4: per-class positional split then union (processor.py:405-416)."""
    return fraction_split(df, order_col, frac, keys=[class_col])


def seeded_shuffle(
    df: DataFrame, seed: int = 42, hash: str = "xxhash64",
    pos_col: str | None = None,
) -> DataFrame:
    """O1: deterministic row shuffle — order by a content hash mixed with the
    seed. (``rand(seed)`` is seeded PER PARTITION, so its order would change
    with the input partitioning; a row-content hash is partitioning-
    independent.) Fixture-gen only — the engine itself never reorders rows
    non-deterministically.

    ``hash='md5'`` swaps the JVM xxhash64 for a 60-bit md5-derived key that
    any engine can reproduce (the portable-hash move of the md5
    MinHash/SimHash variants). ``pos_col`` additionally materializes the
    0-based shuffle position — required whenever the consumer compares SETS
    of rows (a bare ordering is invisible to order-insensitive checks); the
    rank is one global window, so keep it to bounded fixture-scale inputs."""
    if hash == "md5":
        key = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(str(seed)), *[F.col(c).cast("string") for c in df.columns]
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    else:
        key = F.xxhash64(*df.columns, F.lit(seed))
    if pos_col is None:
        return df.orderBy(key, *df.columns[:1])
    w = Window.orderBy(key, *df.columns[:1])
    return df.withColumn(pos_col, F.row_number().over(w) - 1)


def dropin_augment(df: DataFrame, factor_max: int = 10, seed: int = 42) -> DataFrame:
    """O8: duplicate each row randint(0, factor_max) times
    (lstm_model.py:142-157) — seeded, fixture-only.

    n == 0 must DROP the row: ``sequence(1, 0)`` would count DOWN ([1, 0]),
    so the zero case is routed through an empty array (explode emits nothing).
    """
    n = (F.rand(seed) * factor_max).cast("int")
    reps = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(F.array().cast("array<int>"))
    return df.withColumn("_k", F.explode(reps)).drop("_k")


def dropin_augment_hashed(
    df: DataFrame, id_col: str, factor_max: int = 10, seed: int = 42
) -> DataFrame:
    """O8, portable/deterministic form: duplicate each row
    ``md5_hash(seed|id) % factor_max`` times (reference semantics of
    lstm_model.py:142-157, with the rand() draw replaced by a content hash).

    Unlike :func:`dropin_augment`, the copy count is partitioning-independent
    and reproducible in any engine that has md5 — the same portability move
    as the md5 MinHash/SimHash variants. n == 0 drops the row (via the empty
    array, not sequence(1, 0) which counts down)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    n = (h % factor_max).cast("int")
    reps = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(F.array().cast("array<int>"))
    return df.withColumn("_k", F.explode(reps)).drop("_k")


def label_encode(df: DataFrame, col: str, mapping: dict[str, int], out_col: str | None = None) -> DataFrame:
    """P9: explicit string→int encode (when/otherwise chain), e.g.
    {'anormal': 1, 'normal': -1} per reference prediction/lstm_model.py:25."""
    out_col = out_col or f"{col}_encoded"
    expr = None
    for k, v in mapping.items():
        expr = F.when(F.col(col) == k, v) if expr is None else expr.when(F.col(col) == k, v)
    return df.withColumn(out_col, expr)

"""Cosine-similarity building blocks over embedding columns (array<double>).

The dot product and the L2 norm stay inside JVM higher-order functions
(``zip_with`` + ``aggregate``), so brute-force cosine top-k
(:func:`cosine_topk_bruteforce`, and ``driver_queries.knn_cosine_top3``)
runs with no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — broadcast queries × scan corpus.

    One corpus scan per ALL queries (the crossJoin is broadcast-nested-loop
    with the tiny side broadcast); ranking is a per-query window.
    """
    # norms hoisted out of the crossJoin (r7, guide §4.1): ‖c‖ once per
    # candidate and ‖q‖ once per query instead of once per PAIR — the
    # higher-order-function array passes are interpreted, so this cuts the
    # per-pair work to the dot product alone. Identical floats: the same two
    # doubles are multiplied.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_qn", _norm(F.col("_qv")))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")).withColumn(
        "_cn", _norm(F.col("_cv"))
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    sim = joined.withColumn(
        "cosine", _dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    )
    # rank on the 6-decimal-rounded cosine with an id tiebreak: deterministic
    # across runs, partitionings and engines (unrounded float order is
    # ulp-fragile at equal-cosine ties); the emitted cosine stays unrounded
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cosine"), 6)), F.asc("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )

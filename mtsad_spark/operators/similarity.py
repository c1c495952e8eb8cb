"""Cosine-similarity building blocks over embedding columns (array<double>).

The dot product and the L2 norm stay inside JVM higher-order functions
(``zip_with`` + ``aggregate``), so the brute-force cosine top-k in
``driver_queries.knn_cosine_top3`` runs with no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))

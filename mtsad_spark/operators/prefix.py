"""Scale-clean keyed prefix sums (distributed scan).

A running total per key is the textbook serial window
(``sum(x) OVER (PARTITION BY key ORDER BY t)``) — which funnels every row of
a hot key through one task, the shape this repo bans over raw rows (see
``scoring._global_row_numbers``, the prefix-COUNT special case). The general
prefix-SUM composes the same way: bucket rows by the order value (pure
expression), aggregate per-(key, bucket) sums (algebraic, map-side combined),
prefix those per-bucket sums over the tiny bucket frame, and add a
within-(key, bucket) running sum — the only sequential windows run over
bucket-count-sized or bucket-local frames, never a whole key.

The same composition is the basis for O(1)-per-row sliding-window
aggregates: a bounded window total is the difference of two prefix sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def keyed_prefix_sum(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    val_col: str,
    coarse_width: float = 3600.0,
    out_col: str = "prefix_sum",
) -> DataFrame:
    """INCLUSIVE running sum of ``val_col`` per key in ``order_col`` order.

    ``order_col`` must be numeric or timestamp and a total order per key
    (ties make the within-bucket window arrival-order dependent, as with any
    Spark window). ``coarse_width`` buckets the order domain; per-key
    sequential work is bounded by rows/coarse_width buckets, not rows.
    """
    from .joins import _epoch

    b = df.withColumn(
        "_cb", F.floor(_epoch(df, order_col) / F.lit(coarse_width)).cast("long")
    )
    sums = b.groupBy(*keys, "_cb").agg(F.sum(val_col).alias("_s"))
    woff = (
        Window.partitionBy(*keys)
        .orderBy("_cb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sums.withColumn(
        "_off", F.coalesce(F.sum("_s").over(woff), F.lit(0).cast("long"))
    ).drop("_s")
    wloc = (
        Window.partitionBy(*keys, "_cb")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        b.join(offsets, [*keys, "_cb"])
        .withColumn(out_col, F.col("_off") + F.sum(val_col).over(wloc))
        .drop("_cb", "_off")
    )

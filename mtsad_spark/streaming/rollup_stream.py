"""Structured Streaming form of the base-tier rollup (SURVEY.md §2.8).

The reference is batch-only and the north star's "continuous aggregates" are
retention-tier batch rollups — but the 1m tier maps 1:1 onto a streaming
windowed aggregation, so the engine exposes it: the SAME partial-state
algebra (count, Σx, Σx², min, max as integers) under ``window(ts, '1 minute')``
with a watermark for late data. Higher tiers stay batch re-aggregations of
the streamed 1m partials (stream-static composition), exactly like the batch
pipeline — state stores only ever hold one tier's windows.

``availableNow`` triggers make the streaming path testable on static parquet
(and give exactly-once file-source semantics with checkpointing in
production).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mtsad_spark.operators.rollup import PARTIAL_COLS, partial_aggs


def streaming_rollup_1m(
    stream: DataFrame,
    ts_col: str,
    val_col: str,
    keys: list[str],
    watermark: str = "2 minutes",
) -> DataFrame:
    """readStream frame → watermarked 1m windowed partial states."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.window(ts_col, "1 minute").alias("win"))
        .agg(*partial_aggs(val_col))
        .select(*keys, F.col("win.start").alias("bucket_ts"), *PARTIAL_COLS)
    )


def run_available_now(
    rollup: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Drain everything currently available into parquet, exactly-once via
    the checkpoint dir, then stop (batch-on-stream execution)."""
    return (
        rollup.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

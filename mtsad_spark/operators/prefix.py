"""Scale-clean keyed prefix sums (distributed scan) + sequence packing.

A running total per key is the textbook serial window
(``sum(x) OVER (PARTITION BY key ORDER BY t)``) — which funnels every row of
a hot key through one task, the shape this repo bans over raw rows (see
``scoring._global_row_numbers``, the prefix-COUNT special case). The general
prefix-SUM composes the same way: bucket rows by the order value (pure
expression), aggregate per-(key, bucket) sums (algebraic, map-side combined),
prefix those per-bucket sums over the tiny bucket frame, and add a
within-(key, bucket) running sum — the only sequential windows run over
bucket-count-sized or bucket-local frames, never a whole key.

Packing use-case (training-data prep for the tokenized-sequences shape,
BASELINE.json input_hint): assigning documents to fixed-capacity training
bins by cumulative token count is a prefix sum over ``n_tok`` — contiguous
(next-fit) packing, deterministic under any parallelism given a total
per-key order. The reference has no packing analog; this is part of the
beyond-reference LLM-pipeline surface (SURVEY.md §2 addenda).
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


def pack_sequences(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    len_col: str,
    capacity: int,
    coarse_width: float = 3600.0,
) -> DataFrame:
    """Contiguous (next-fit) packing of variable-length sequences into
    fixed-capacity bins: bin id = floor(exclusive_prefix_len / capacity) per
    key. Deterministic, one pass, no driver loop; a document longer than
    ``capacity`` simply spans bins (callers split or drop such rows first —
    count them, don't silently truncate).

    Returns the input plus ``bin`` (long) and ``bin_offset`` (the sequence's
    start offset inside its key's token stream). Contiguous packing trades
    some fill efficiency vs first-fit-decreasing for determinism and
    scalability (FFD needs a serial pass over all bins).
    """
    out = keyed_prefix_sum(
        df, keys, order_col, len_col, coarse_width, out_col="_incl"
    )
    excl = F.col("_incl") - F.col(len_col)
    return (
        out.withColumn("bin", F.floor(excl / capacity).cast("long"))
        .withColumn("bin_offset", excl)
        .drop("_incl")
    )


def concurrency_curve(
    df: DataFrame,
    start_col: str,
    end_col: str,
    bucket_width_s: int = 60,
    keys: list[str] | None = None,
    coarse_width: float = 3600.0,
) -> DataFrame:
    """Concurrent-interval curve by DIFFERENCE ALGEBRA — "how many sessions
    were active at once": each interval contributes +1 at its start bucket
    and −1 one bucket past its end (inclusive-end semantics), the deltas
    are a map-side-combined per-bucket sum, and the running count is a
    :func:`keyed_prefix_sum` over the BUCKET frame — tier-sized, never a
    per-interval window, with the sequential carry bounded by
    buckets/coarse_width exactly like every prefix op here.

    Output is SPARSE: one row per bucket where some interval starts or
    ends (the curve is piecewise-constant between them); compose with
    ``gap_fill(..., 'locf')`` for a dense spine. Buckets whose starts and
    ends cancel are still emitted (concurrent unchanged) — deterministic
    and oracle-replayable.

    Returns ``(*keys, bucket_ts, delta, concurrent)`` with ``concurrent``
    the number of intervals covering that bucket.
    """
    keys = keys or []
    w = int(bucket_width_s)
    # F.floor, not a truncating cast: matches DuckDB's // for pre-1970
    # timestamps too (code-review r6)
    b_start = (
        F.floor(F.col(start_col).cast("timestamp").cast("long") / F.lit(w))
        .cast("long") * w
    ).cast("timestamp")
    b_end = (
        F.floor(F.col(end_col).cast("timestamp").cast("long") / F.lit(w))
        .cast("long") * w + F.lit(w)
    ).cast("timestamp")
    starts = df.select(*keys, b_start.alias("bucket_ts")).withColumn(
        "_d", F.lit(1).cast("long")
    )
    ends = df.select(*keys, b_end.alias("bucket_ts")).withColumn(
        "_d", F.lit(-1).cast("long")
    )
    deltas = (
        starts.unionByName(ends)
        .groupBy(*keys, "bucket_ts")
        .agg(F.sum("_d").alias("delta"))
    )
    out = keyed_prefix_sum(
        deltas, keys, "bucket_ts", "delta", coarse_width, out_col="concurrent"
    )
    return out.select(*keys, "bucket_ts", "delta", "concurrent")


def pack_training_windows(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    len_col: str,
    capacity: int,
    coarse_width: float = 3600.0,
) -> DataFrame:
    """Fixed-capacity TRAINING-WINDOW layout of variable-length sequences —
    the GPT-style packing step: concatenate documents in ``order_col``
    order per key and split the stream every ``capacity`` tokens, emitting
    one row per (sequence, window) OVERLAP with in-document offsets, so a
    document that straddles a boundary contributes a span row to each
    window it touches (no truncation, no padding accounting lost).

    Pure prefix-sum algebra over :func:`keyed_prefix_sum` (per-(key,
    coarse-bucket) composition — no bare-key window over raw rows):
    with ``start`` the exclusive prefix length, a sequence spans windows
    ``start div C .. (start+len−1) div C``; its slice in window w is
    ``[max(0, w·C − start), min(len, (w+1)·C − start))`` and lands at
    in-window position ``max(0, start − w·C)``. All integers — exact,
    deterministic, partitioning-invariant.

    Returns the input plus ``window_id``, ``off_start``/``off_end``
    (in-sequence token slice, end-exclusive), ``n_in_window`` and
    ``pos_in_window``. Rows with ``len_col <= 0`` are dropped (they occupy
    no tokens).
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    out = keyed_prefix_sum(
        df.filter(F.col(len_col) > 0), keys, order_col, len_col,
        coarse_width, out_col="_incl",
    )
    out = out.withColumn("_start", F.col("_incl") - F.col(len_col))
    C = int(capacity)
    spans = out.withColumn(
        "window_id",
        F.explode(
            F.expr(
                f"sequence(_start div {C}, (_start + `{len_col}` - 1) div {C})"
            )
        ),
    )
    w0 = F.col("window_id") * C
    return (
        spans.withColumn(
            "off_start", F.greatest(F.lit(0).cast("long"), w0 - F.col("_start"))
        )
        .withColumn(
            "off_end",
            F.least(F.col(len_col).cast("long"), w0 + C - F.col("_start")),
        )
        .withColumn("n_in_window", F.col("off_end") - F.col("off_start"))
        .withColumn(
            "pos_in_window",
            F.greatest(F.lit(0).cast("long"), F.col("_start") - w0),
        )
        .drop("_incl", "_start")
    )


def interval_coverage(
    df: DataFrame,
    keys: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Union-of-intervals coverage per (keys, calendar day) — "how many
    seconds of each day had at least one active interval" (the
    TimescaleDB ``state_agg``/uptime question; overlapping intervals must
    not double-count, which a plain duration sum gets wrong).

    EXACT integer algebra: interval [start, end) in epoch seconds is
    clipped to each day it touches (a bounded explode —
    ``days_spanned ≤ duration/86400 + 1``), then per (keys, day) the
    clipped segments merge gaps-and-islands style: a segment opens a new
    island iff its start lies strictly past the running max of prior ends
    (touching segments merge); covered seconds = Σ islands
    (max_end − min_start). All LONGs, ONE ratio division for utilization.

    Scale shape: the only windows are per (keys, day) over SEGMENT rows —
    the (key, coarse-bucket) discipline; a year-long key spreads across
    365 independent day partitions. Zero/negative-length intervals are
    dropped. Returns ``(keys..., day_ts, covered_s, n_intervals,
    n_islands, utilization)``.
    """
    s = F.col(start_col).cast("timestamp").cast("long")
    e = F.col(end_col).cast("timestamp").cast("long")
    d = (
        df.withColumn("_s", s)
        .withColumn("_e", e)
        .filter(F.col("_e") > F.col("_s"))
        .withColumn(
            "_day",
            # FLOOR division via pmod — Spark's `div` truncates toward zero
            # and would mis-bucket pre-1970 intervals vs DuckDB's // floor
            # (code-review r6)
            F.explode(
                F.expr(
                    "sequence((_s - pmod(_s, 86400)) div 86400, "
                    "((_e - 1) - pmod(_e - 1, 86400)) div 86400)"
                )
            ),
        )
        .withColumn("_ss", F.greatest(F.col("_s"), F.col("_day") * 86400))
        .withColumn("_se", F.least(F.col("_e"), (F.col("_day") + 1) * 86400))
    )
    w = Window.partitionBy(*keys, "_day").orderBy("_ss", "_se")
    run_prev = F.max("_se").over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_island = F.when(
        run_prev.isNull() | (F.col("_ss") > run_prev), 1
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = d.withColumn("_n", new_island).withColumn(
        "_isl", F.sum("_n").over(cum)
    )
    per_island = isl.groupBy(*keys, "_day", "_isl").agg(
        (F.max("_se") - F.min("_ss")).alias("_len"),
        F.count(F.lit(1)).alias("_n_seg"),
    )
    return (
        per_island.groupBy(*keys, "_day")
        .agg(
            F.sum("_len").alias("covered_s"),
            F.sum("_n_seg").alias("n_intervals"),
            F.count(F.lit(1)).alias("n_islands"),
        )
        .select(
            *keys,
            (F.col("_day") * 86400).cast("timestamp").alias("day_ts"),
            "covered_s",
            "n_intervals",
            "n_islands",
            (F.col("covered_s").cast("double") / F.lit(86400.0)).alias(
                "utilization"
            ),
        )
    )

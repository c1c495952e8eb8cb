"""Tiered continuous aggregates (SURVEY.md A3; north_star rollup path).

Design for exactness AND scale:

* Each tier's state is the ALGEBRAIC PARTIAL ``(cnt, s1=Σx, s2=Σx², vmin, vmax)``.
  For the tokenized table the measure (``n_tok``) is an integer, so s1/s2 are
  summed in LONG arithmetic — exact and order-independent, hence bitwise
  identical at local[8] vs local[32] (or 1000 executors). The float
  ``mean``/``std`` are derived from the exact integers by ONE deterministic
  expression in :func:`finalize`.
* Higher tiers (1h, 1d) are re-aggregations of the 1m partials
  (:func:`reaggregate`) — the classic partial/final split, so a 100 TB scan
  happens once and each coarser tier touches only rollup-sized data.
* The state algebra is written once: :func:`partial_aggs` (raw rows →
  state), :func:`merge_aggs` (states → state) and :func:`mean_std` (state →
  mean/std). Every tier, the streaming 1m tier, the continuous-aggregate
  refresh and the stitched range query are built from these three.
* Skew: Spark's HashAggregate already does map-side partial aggregation for
  these algebraic functions, which defuses hot-key skew for ``groupBy`` — a
  hot ``source`` is pre-combined per task before the shuffle, so the shuffle
  carries at most (tasks × distinct buckets) rows per key. Explicit salting is
  therefore reserved for the ``applyInPandas`` scoring path
  (operators/scoring.py) where no partial aggregation exists.

Reference parity: mean/std replicate numpy population semantics (ddof=0,
/root/reference/prediction/lstm_model.py:129-140 ``ndarray.std()``); min/max/
count/sum are the north_star continuous-aggregate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# tier name -> (date_trunc unit, seconds)
TIERS: dict[str, tuple[str, int]] = {
    "1m": ("minute", 60),
    "1h": ("hour", 3600),
    "1d": ("day", 86400),
}
TIER_ORDER = ["1m", "1h", "1d"]

PARTIAL_COLS = ["cnt", "s1", "s2", "vmin", "vmax"]


def bucket_expr(ts_col: str, tier: str) -> F.Column:
    unit, _ = TIERS[tier]
    return F.date_trunc(unit, F.col(ts_col))


def partial_aggs(val_col: str, exact_int: bool = True) -> list[F.Column]:
    """Raw rows → the partial state ``(cnt, s1, s2, vmin, vmax)``."""
    v = F.col(val_col).cast("long") if exact_int else F.col(val_col).cast("double")
    return [
        F.count(val_col).alias("cnt"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    ]


def merge_aggs() -> list[F.Column]:
    """Partial states → one merged partial state (sums add, extrema combine)."""
    return [
        F.sum("cnt").alias("cnt"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    ]


def mean_std() -> tuple[F.Column, F.Column]:
    """Population mean and std (ddof=0) of a partial state, as
    sqrt(E[x²] − E[x]²) on the exact sums, clamped at 0."""
    mean = F.col("s1").cast("double") / F.col("cnt")
    var = F.col("s2").cast("double") / F.col("cnt") - mean * mean
    return mean, F.sqrt(F.greatest(var, F.lit(0.0)))


def rollup_partials(
    df: DataFrame,
    ts_col: str,
    val_col: str,
    keys: list[str],
    tier: str = "1m",
    exact_int: bool = True,
) -> DataFrame:
    """Base-tier partial states per (keys..., bucket_ts).

    ``exact_int=True`` sums the measure as LONG (exact, order-independent —
    the determinism guarantee). Use ``False`` for genuinely double-valued
    measures (float sums are then order-dependent in the last ulp; callers
    that need cross-run stability should round at the edge).
    """
    return df.groupBy(
        *keys, bucket_expr(ts_col, tier).alias("bucket_ts")
    ).agg(*partial_aggs(val_col, exact_int))


def reaggregate(partials: DataFrame, keys: list[str], tier: str) -> DataFrame:
    """Compose a coarser tier from a finer tier's partials (partial merge).

    Exact when s1/s2 are LONG: addition is associative, so the merge tree
    shape (shuffle arrival order, parallelism level) cannot change the result.
    """
    return partials.groupBy(
        *keys, bucket_expr("bucket_ts", tier).alias("bucket_ts")
    ).agg(*merge_aggs())


def finalize(partials: DataFrame, keys: list[str], tier: str) -> DataFrame:
    """Derive the user-facing rollup point from exact partials.

    std is POPULATION std (ddof=0) via :func:`mean_std` on exact integer
    sums — deterministic because every operand is exact and the expression is
    evaluated once per output row. Matches numpy ``ndarray.std()`` semantics
    (reference prediction/lstm_model.py:129-140) up to the formula's own
    float evaluation, which the pandas oracle replicates identically.
    """
    mean, std = mean_std()
    return partials.select(
        *keys,
        F.lit(tier).alias("tier"),
        F.col("bucket_ts"),
        F.col("cnt"),
        F.col("s1").alias("sum_v"),
        mean.alias("mean"),
        std.alias("std"),
        F.col("vmin"),
        F.col("vmax"),
    )


def distinct_rollup_tiers(
    df: DataFrame,
    ts_col: str,
    val_col: str,
    keys: list[str],
    tiers: list[str] | None = None,
    lg_k: int = 12,
) -> dict[str, DataFrame]:
    """Composable DISTINCT-count tiers via Datasketches HLL partials
    (``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``).

    Distinct-count is not algebraic — exact tier composition would need the
    full value set per bucket. The HLL sketch IS a mergeable partial state:
    the 1m tier builds sketches once from raw data, 1h/1d union those
    sketches (register-wise max — lossless at equal lg_k), so coarser tiers
    stay rollup-sized exactly like the numeric cascade. Estimate error is the
    standard ~1.04/√2^lg_k (≈1.6% at lg_k=12); swap to exact
    ``countDistinct`` only at fixture scale (driver_queries.distinct_users_1d
    keeps the exact form for the DuckDB oracle).

    Returns {tier: (keys..., bucket_ts, n_rows, distinct_est)}.
    """
    tiers = tiers or TIER_ORDER
    base = tiers[0]
    sk: dict[str, DataFrame] = {}
    sk[base] = df.groupBy(*keys, bucket_expr(ts_col, base).alias("bucket_ts")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.hll_sketch_agg(F.col(val_col), F.lit(lg_k)).alias("_hll"),
    )
    for prev, cur in zip(tiers, tiers[1:]):
        sk[cur] = sk[prev].groupBy(
            *keys, bucket_expr("bucket_ts", cur).alias("bucket_ts")
        ).agg(
            F.sum("n_rows").alias("n_rows"),
            F.hll_union_agg(F.col("_hll")).alias("_hll"),
        )
    return {
        t: s.select(
            *keys,
            F.lit(t).alias("tier"),
            "bucket_ts",
            "n_rows",
            F.hll_sketch_estimate("_hll").alias("distinct_est"),
        )
        for t, s in sk.items()
    }


def rollup_tiers(
    df: DataFrame,
    ts_col: str,
    val_col: str,
    keys: list[str],
    tiers: list[str] | None = None,
    exact_int: bool = True,
) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
    """All retention tiers in one cascade: scan once, re-aggregate partials.

    Returns ``(finalized, partials)`` dicts keyed by tier name. The caller
    (plans/pipeline.py) persists the 1m partials between tiers so 1h/1d are
    rollup-sized re-aggregations, not re-scans.
    """
    tiers = tiers or TIER_ORDER
    partials: dict[str, DataFrame] = {}
    finalized: dict[str, DataFrame] = {}
    base = tiers[0]
    partials[base] = rollup_partials(df, ts_col, val_col, keys, base, exact_int)
    for prev, cur in zip(tiers, tiers[1:]):
        partials[cur] = reaggregate(partials[prev], keys, cur)
    for t in tiers:
        finalized[t] = finalize(partials[t], keys, t)
    return finalized, partials


def quantile_rollup_tiers(
    df: DataFrame,
    ts_col: str,
    val_col: str,
    keys: list[str],
    quantiles: list[float] | None = None,
    tiers: list[str] | None = None,
    k: int = 200,
) -> dict[str, DataFrame]:
    """Composable QUANTILE tiers via Datasketches KLL partials
    (``kll_sketch_agg_double`` / ``kll_merge_agg_double``) — the
    order-statistics cousin of :func:`distinct_rollup_tiers`.

    Percentiles are not algebraic (exact tier composition would need every
    value per bucket); the KLL sketch is a MERGEABLE partial state with a
    proven rank-error bound (~1.65% at k=200), so the 1m tier sketches raw
    data once and 1h/1d merge sketches, exactly like the numeric cascade.

    Unlike HLL, KLL compaction is RANDOMIZED and Spark's implementation is
    unseeded: estimates vary run-to-run and with partitioning (within the
    rank bound). Anything consuming these tiers must treat the estimate as
    a bounded-error value, never a reproducible one — the pytest suite
    checks the rank bound, not equality, and the driver query oracles only
    the deterministic columns plus a wide-margin bound boolean.

    Returns {tier: (keys..., tier, bucket_ts, n_rows, q_<pct>...)}.
    """
    quantiles = quantiles or [0.5, 0.95, 0.99]
    tiers = tiers or TIER_ORDER
    base = tiers[0]
    sk: dict[str, DataFrame] = {}
    sk[base] = df.groupBy(*keys, bucket_expr(ts_col, base).alias("bucket_ts")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.kll_sketch_agg_double(F.col(val_col).cast("double"), F.lit(k)).alias("_kll"),
    )
    for prev, cur in zip(tiers, tiers[1:]):
        sk[cur] = sk[prev].groupBy(
            *keys, bucket_expr("bucket_ts", cur).alias("bucket_ts")
        ).agg(
            F.sum("n_rows").alias("n_rows"),
            F.kll_merge_agg_double(F.col("_kll")).alias("_kll"),
        )
    def _final(s: DataFrame, t: str) -> DataFrame:
        out = s.select(
            *keys, F.lit(t).alias("tier"), "bucket_ts", "n_rows",
            *[
                F.kll_sketch_get_quantile_double("_kll", F.lit(q)).alias(
                    f"q_{str(q).replace('.', '_')}"
                )
                for q in quantiles
            ],
        )
        return out
    return {t: _final(s, t) for t, s in sk.items()}


def merge_partials(a: DataFrame, b: DataFrame, keys: list[str], tier: str) -> DataFrame:
    """Merge two same-tier partial frames (continuous-aggregate refresh
    algebra): union + re-aggregate. Exact for LONG s1/s2 — associative, so
    incremental maintenance is bitwise-equal to a from-scratch rebuild."""
    return reaggregate(a.unionByName(b), keys, tier)


def _floor_dt(t, unit_s: int):
    import datetime as _dt

    epoch = _dt.datetime(1970, 1, 1)
    s = int((t - epoch).total_seconds())
    return epoch + _dt.timedelta(seconds=(s // unit_s) * unit_s)


def _ceil_dt(t, unit_s: int):
    import datetime as _dt

    epoch = _dt.datetime(1970, 1, 1)
    s = int((t - epoch).total_seconds())
    return epoch + _dt.timedelta(seconds=-(-s // unit_s) * unit_s)


def range_tiles(t0, t1) -> dict[str, list[tuple]]:
    """Partition [t0, t1) into tier-aligned tiles — coarsest tier possible in
    the middle, finer tiers at the edges (the continuous-aggregate READ path:
    TimescaleDB/M3-style tier routing). ``t0``/``t1`` must be minute-aligned
    datetimes. Returns {tier: [(lo, hi), ...]} covering [t0, t1) exactly,
    each (lo, hi) aligned to its tier's bucket width.

    The tiling is pure driver-side arithmetic on two timestamps — no data is
    touched until :func:`stitched_range_aggregate` filters the partials."""
    if t0 >= t1:
        raise ValueError(f"empty range: {t0} >= {t1}")
    for t in (t0, t1):
        # naive wall-clock arithmetic, like the tiling itself — .timestamp()
        # would inject the host timezone into the alignment check
        if t.second or t.microsecond:
            raise ValueError(f"range endpoints must be minute-aligned, got {t}")
    tiles: dict[str, list[tuple]] = {"1m": [], "1h": [], "1d": []}

    def _add(tier, lo, hi):
        if lo < hi:
            tiles[tier].append((lo, hi))

    a = t0
    ch = _ceil_dt(a, 3600)
    if ch >= t1:
        _add("1m", a, t1)  # range inside one hour: minutes only
        return tiles
    _add("1m", a, ch)
    a = ch
    fh = _floor_dt(t1, 3600)
    cd = _ceil_dt(a, 86400)
    if cd >= fh:
        _add("1h", a, fh)  # no full day inside: hours bridge the middle
    else:
        fd = _floor_dt(fh, 86400)
        _add("1h", a, cd)
        _add("1d", cd, fd)
        _add("1h", fd, fh)
    _add("1m", fh, t1)
    return tiles


def stitched_range_aggregate(
    partials_by_tier: dict[str, DataFrame], keys: list[str], t0, t1
) -> DataFrame:
    """Aggregate over [t0, t1) by STITCHING retention tiers: full days from
    the 1d rollup, edge hours from 1h, edge minutes from 1m — the classic
    tiered-rollup range query. A query spanning years of a 10^12-row table
    touches only rollup-sized data (≤ 1440 + 48 + 2·59 tier rows per key for
    any range) instead of the raw rows, and partition pruning on bucket_ts
    reaches every tier scan. Exact: LONG partials merge associatively, so the
    stitched result is bitwise-equal to aggregating the raw rows directly
    (oracled in driver_queries.stitched_range_agg).

    ``partials_by_tier`` maps tier -> that tier's partial frame
    (:func:`rollup_partials` / :func:`reaggregate` output)."""
    tiles = range_tiles(t0, t1)
    pieces = []
    for tier, spans in tiles.items():
        if not spans:
            continue
        pred = None
        for lo, hi in spans:
            p = (F.col("bucket_ts") >= F.lit(lo)) & (F.col("bucket_ts") < F.lit(hi))
            pred = p if pred is None else pred | p
        pieces.append(
            partials_by_tier[tier].filter(pred).select(*keys, *PARTIAL_COLS)
        )
    u = pieces[0]
    for p in pieces[1:]:
        u = u.unionByName(p)
    merged = u.groupBy(*keys).agg(*merge_aggs())
    mean, std = mean_std()
    return merged.select(
        *keys,
        "cnt",
        F.col("s1").alias("sum_v"),
        mean.alias("mean"),
        std.alias("std"),
        "vmin",
        "vmax",
    )


def _hist_bin_expr(val_col: str, lo: float, width: float, n_bins: int) -> F.Column:
    v = F.col(val_col).cast("double")
    raw = F.floor((v - F.lit(lo)) / F.lit(width)).cast("int")
    return (
        F.when(v < F.lit(lo), F.lit(-1))
        .when(v >= F.lit(lo + width * n_bins), F.lit(n_bins))
        .otherwise(F.least(raw, F.lit(n_bins - 1)))
    )


def _hist_cols(n_bins: int) -> list[str]:
    return ["h_under", *[f"h_{i:02d}" for i in range(n_bins)], "h_over"]


def histogram_rollup_tiers(
    df: DataFrame,
    ts_col: str,
    val_col: str,
    keys: list[str],
    lo: float,
    hi: float,
    n_bins: int = 12,
    tiers: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Composable FIXED-BUCKET histogram tiers — the Prometheus/M3 classic:
    a histogram with boundaries fixed up front is an EXACT integer partial
    state (per-bin BIGINT counts), so unlike KLL it merges bitwise across
    tiers, parallelism levels and engines: 1m bins the raw rows once (one
    conditional-sum aggregate per bin, map-side combined, single shuffle),
    1h/1d are elementwise per-bin sums over the finer tier — the
    ``rollup_partials``/``reaggregate`` cascade applied to a vector of
    counts. Out-of-range values land in explicit ``h_under``/``h_over``
    bins (no silent clipping).

    The trade against :func:`quantile_rollup_tiers` (KLL) is the classic
    one: fixed buckets give exact, deterministic, mergeable counts and
    O(n_bins) state but quantile estimates whose error is bounded by the
    BUCKET WIDTH; KLL gives a proven rank-error bound for arbitrary
    distributions but randomized, non-reproducible estimates. Tier engines
    ship both (Prometheus classic histograms vs DDSketch/KLL backends).

    Returns {tier: (keys..., tier, bucket_ts, n_rows, h_under, h_00…, h_over)}.
    """
    if n_bins < 1 or hi <= lo:
        raise ValueError(f"need hi > lo and n_bins >= 1, got [{lo}, {hi}) / {n_bins}")
    tiers = tiers or TIER_ORDER
    width = (hi - lo) / n_bins
    b = _hist_bin_expr(val_col, lo, width, n_bins)
    cols = _hist_cols(n_bins)
    base = tiers[0]
    out: dict[str, DataFrame] = {}
    out[base] = df.groupBy(*keys, bucket_expr(ts_col, base).alias("bucket_ts")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum((b == F.lit(i - 1)).cast("long")).alias(c)
            for i, c in enumerate(cols)
        ],
    )
    for prev, cur in zip(tiers, tiers[1:]):
        out[cur] = (
            out[prev]
            .groupBy(*keys, bucket_expr("bucket_ts", cur).alias("bucket_ts"))
            .agg(
                F.sum("n_rows").alias("n_rows"),
                *[F.sum(c).alias(c) for c in cols],
            )
        )
    return {
        t: s.select(*keys, F.lit(t).alias("tier"), "bucket_ts", "n_rows", *cols)
        for t, s in out.items()
    }


def histogram_quantile(
    hist: DataFrame,
    keys: list[str],
    q: float,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """PromQL-style ``histogram_quantile`` over one histogram tier: linear
    interpolation inside the bucket where the q·n-th value falls. All
    inputs are exact integers, the estimate is one fixed float expression —
    deterministic across engines and parallelism (unlike KLL's randomized
    estimates). The under/overflow buckets clamp to ``lo``/``hi`` (PromQL
    semantics: no interpolation outside the known boundaries).

    Plan shape: unpivot the n_bins+2 count columns to (bin, cnt) rows
    (n_bins+2 rows per bucket — BOUNDED groups), one cumulative-sum window
    per (keys, bucket_ts), keep the first bin reaching the target rank.

    Returns (keys..., bucket_ts, n_rows, q_est).
    """
    width = (hi - lo) / n_bins
    cols = _hist_cols(n_bins)
    stack = ", ".join(f"{i - 1}, {c}" for i, c in enumerate(cols))
    long = hist.select(
        *keys,
        "bucket_ts",
        "n_rows",
        F.expr(f"stack({len(cols)}, {stack}) AS (bin, cnt)"),
    )
    w = Window.partitionBy(*keys, "bucket_ts").orderBy("bin")
    target = F.lit(q) * F.col("n_rows").cast("double")
    cum = F.sum("cnt").over(w).cast("double")
    hit = (
        long.withColumn("_cum", cum)
        .withColumn("_hit", (F.col("_cum") >= target) & (F.col("cnt") > 0))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(*keys, "bucket_ts").orderBy(
                    F.col("_hit").desc(), "bin"
                )
            ),
        )
        .filter((F.col("_rk") == 1) & F.col("_hit"))
    )
    interp = F.lit(lo) + F.lit(width) * (
        F.col("bin").cast("double")
        + (target - (F.col("_cum") - F.col("cnt").cast("double")))
        / F.col("cnt").cast("double")
    )
    est = (
        F.when(F.col("bin") < 0, F.lit(lo))
        .when(F.col("bin") >= n_bins, F.lit(hi))
        .otherwise(F.least(F.greatest(interp, F.lit(lo)), F.lit(hi)))
    )
    return hit.select(*keys, "bucket_ts", "n_rows", F.round(est, 6).alias("q_est"))


def sliding_distinct(
    df: DataFrame,
    ts_col: str,
    val_col: str,
    keys: list[str],
    window_buckets: int,
    tier: str = "1d",
    lg_k: int = 12,
) -> DataFrame:
    """Trailing-window distinct count per key over a sketch tier — the
    "distinct users over the last N days" query, answered WITHOUT touching
    raw rows twice: base-tier HLL sketches are built once (the
    :func:`distinct_rollup_tiers` partial state), then every bucket's
    trailing window unions the sketch rows of its ``window_buckets``
    predecessors. Register-wise max union is lossless at equal ``lg_k`` in
    DENSE mode; in sparse/coupon mode the merged gadget's ESTIMATE is
    merge-order-sensitive by ±1 count (measured: the same two day sketches
    union to 386 or 387 depending on order), so ``distinct_est`` is an
    ESTIMATE column with a bounded-error contract, not a
    partitioning-deterministic value — driver queries must emit the
    ``est_ok`` bound (the distinct_rollup_1d_hll pattern), never hash the
    raw estimate.

    Shape: sketches shift via an OFFSET-PATTERN EXPLODE (each bucket row
    contributes itself to ``window_buckets`` target buckets — tier-sized ×
    window, never raw-sized) and a map-side-combinable union re-aggregate;
    no per-key raw-row windows, no self-join fan-out beyond the fixed
    window factor. Only targets that are themselves observed base buckets
    are emitted (no trailing ghost buckets past the end of data).

    Returns ``(*keys, bucket_ts, n_rows_window, n_active_buckets,
    distinct_est)``: window row total, contributing-bucket count, and the
    unioned HLL estimate.
    """
    if window_buckets < 1:
        raise ValueError(f"window_buckets must be >= 1, got {window_buckets}")
    _, width = TIERS[tier]
    # normalize NTZ → TIMESTAMP once so the shift arithmetic and the
    # target join see one type (the joins._epoch lesson)
    base = df.groupBy(
        *keys, bucket_expr(ts_col, tier).cast("timestamp").alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.hll_sketch_agg(F.col(val_col), F.lit(lg_k)).alias("_hll"),
    )
    from mtsad_spark.plans.scope import scoped_persist

    base = scoped_persist(base)  # feeds the shift explode AND the target semi-join
    shifted = base.select(
        *keys,
        F.explode(
            F.sequence(F.lit(0), F.lit(window_buckets - 1))
        ).alias("_off"),
        "bucket_ts",
        "n_rows",
        "_hll",
    ).select(
        *keys,
        (F.col("bucket_ts").cast("long") + F.col("_off") * F.lit(width))
        .cast("timestamp")
        .alias("bucket_ts"),
        "n_rows",
        "_hll",
    )
    targets = base.select(*keys, "bucket_ts")
    agg = shifted.join(targets, [*keys, "bucket_ts"]).groupBy(
        *keys, "bucket_ts"
    ).agg(
        F.sum("n_rows").alias("n_rows_window"),
        F.count(F.lit(1)).alias("n_active_buckets"),
        F.hll_union_agg(F.col("_hll")).alias("_u"),
    )
    return agg.withColumn(
        "distinct_est", F.hll_sketch_estimate("_u")
    ).drop("_u")


def sliding_histogram(
    hist: DataFrame,
    keys: list[str],
    window_buckets: int,
    tier: str,
) -> DataFrame:
    """Trailing-window merge of a fixed-bucket histogram tier — the EXACT
    counterpart of :func:`sliding_distinct`: per-bin BIGINT counts merge by
    plain addition, so unlike the HLL case the windowed histogram (and any
    :func:`histogram_quantile` over it) is fully deterministic across
    engines, partitionings and merge orders. Same offset-pattern-explode
    shape: each tier row contributes itself to its ``window_buckets``
    successors, targets are restricted to observed buckets, and the merge
    is one map-side-combinable sum per bin.

    Input is one tier frame from :func:`histogram_rollup_tiers` (the
    ``tier`` literal column is dropped). Returns the same histogram schema
    plus ``n_active_buckets`` — feed it straight to
    :func:`histogram_quantile` for windowed percentiles.
    """
    if window_buckets < 1:
        raise ValueError(f"window_buckets must be >= 1, got {window_buckets}")
    from mtsad_spark.plans.scope import scoped_persist

    _, width = TIERS[tier]
    cols = [c for c in hist.columns if c.startswith("h_")]
    base = scoped_persist(hist.drop("tier"))  # shift explode + target join
    shifted = base.select(
        *keys,
        F.explode(F.sequence(F.lit(0), F.lit(window_buckets - 1))).alias("_off"),
        "bucket_ts",
        "n_rows",
        *cols,
    ).select(
        *keys,
        (
            F.col("bucket_ts").cast("timestamp").cast("long")
            + F.col("_off") * F.lit(width)
        )
        .cast("timestamp")
        .alias("bucket_ts"),
        "n_rows",
        *cols,
    )
    targets = base.select(
        *keys, F.col("bucket_ts").cast("timestamp").alias("bucket_ts")
    )
    return shifted.join(targets, [*keys, "bucket_ts"]).groupBy(
        *keys, "bucket_ts"
    ).agg(
        F.sum("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_active_buckets"),
        *[F.sum(c).alias(c) for c in cols],
    )


def histogram_distance(
    hist: DataFrame, keys: list[str], tier: str
) -> DataFrame:
    """Distribution shift between CONSECUTIVE buckets of a fixed-bucket
    histogram tier — the value-distribution counterpart of the token KL
    drift, and a pure class-1 EXACT op: with per-bin counts ``c_i`` (cur,
    total n) and ``p_i`` (prev, total m), the cross-multiplied L1
    ``l1_scaled = Σ|c_i·m − p_i·n|`` is BIGINT (contract:
    ``max_bin_count · window_total < 2^63``), and total-variation distance
    ``tv = l1_scaled / (2·n·m)`` is ONE float division — bitwise across
    engines and parallelism, no rounding. tv ∈ [0, 1]; 0 = identical
    shapes, 1 = disjoint support.

    Consecutive pairing is a tier-frame self equi-join on the shifted
    bucket (rollup-sized); buckets without a predecessor are absent.

    Returns ``(*keys, bucket_ts, n_cur, n_prev, l1_scaled, tv)``.
    """
    _, width = TIERS[tier]
    cols = [c for c in hist.columns if c.startswith("h_")]
    cur = hist.select(
        *keys,
        F.col("bucket_ts").cast("timestamp").alias("bucket_ts"),
        F.col("n_rows").alias("n_cur"),
        *[F.col(c).alias(f"c_{c}") for c in cols],
    )
    prv = hist.select(
        *keys,
        (F.col("bucket_ts").cast("timestamp").cast("long") + F.lit(width))
        .cast("timestamp")
        .alias("bucket_ts"),
        F.col("n_rows").alias("n_prev"),
        *[F.col(c).alias(f"p_{c}") for c in cols],
    )
    j = cur.join(prv, [*keys, "bucket_ts"])
    l1 = None
    for c in cols:
        term = F.abs(
            F.col(f"c_{c}") * F.col("n_prev") - F.col(f"p_{c}") * F.col("n_cur")
        )
        l1 = term if l1 is None else l1 + term
    out = j.withColumn("l1_scaled", l1.cast("long"))
    tv = F.when(
        (F.col("n_cur") > 0) & (F.col("n_prev") > 0),
        F.col("l1_scaled").cast("double")
        / (F.lit(2.0) * F.col("n_cur").cast("double") * F.col("n_prev").cast("double")),
    )
    return out.select(
        *keys, "bucket_ts", "n_cur", "n_prev", "l1_scaled", tv.alias("tv")
    )


def rollup_partials_multi(
    df: DataFrame,
    ts_col: str,
    val_cols: list[str],
    keys: list[str],
    tier: str = "1m",
) -> DataFrame:
    """Multi-metric base-tier partials — M measures in ONE scan and ONE
    shuffle (the single-metric :func:`rollup_partials` run M times costs M
    scans of the raw table; at the 100 TB design point that difference is
    the job). Per measure ``c`` the output carries ``{c}_s1, {c}_s2,
    {c}_min, {c}_max`` plus one shared ``cnt``; every sum is LONG (exact,
    order-independent — the same determinism contract as the single-metric
    tier, so the multi-rollup is bitwise equal to M independent rollups).

    NULL discipline: ``cnt`` counts ROWS (the shared time spine);
    ``{c}_cnt`` counts non-null values of each measure so per-measure means
    stay correct under missing metrics.

    Scale shape: identical to rollup_partials — map-side combined partial
    aggregation, one exchange on (keys, bucket); wider rows, same shuffle
    cardinality. ``reaggregate_multi`` composes coarser tiers from these
    partials without re-reading raw data.
    """
    if not val_cols:
        raise ValueError("val_cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("cnt")]
    for c in val_cols:
        v = F.col(c).cast("long")
        aggs += [
            F.count(c).alias(f"{c}_cnt"),
            F.sum(v).alias(f"{c}_s1"),
            F.sum(v * v).alias(f"{c}_s2"),
            F.min(v).alias(f"{c}_min"),
            F.max(v).alias(f"{c}_max"),
        ]
    return df.groupBy(
        *keys, bucket_expr(ts_col, tier).alias("bucket_ts")
    ).agg(*aggs)


def reaggregate_multi(
    partials: DataFrame, val_cols: list[str], keys: list[str], tier: str
) -> DataFrame:
    """Coarser-tier composition of :func:`rollup_partials_multi` output —
    pure partial merge (LONG sums associative; min/max idempotent), never
    touches raw rows."""
    aggs = [F.sum("cnt").alias("cnt")]
    for c in val_cols:
        aggs += [
            F.sum(f"{c}_cnt").alias(f"{c}_cnt"),
            F.sum(f"{c}_s1").alias(f"{c}_s1"),
            F.sum(f"{c}_s2").alias(f"{c}_s2"),
            F.min(f"{c}_min").alias(f"{c}_min"),
            F.max(f"{c}_max").alias(f"{c}_max"),
        ]
    return partials.groupBy(
        *keys, bucket_expr("bucket_ts", tier).alias("bucket_ts")
    ).agg(*aggs)

"""Anomaly scoring path (SURVEY.md W9/W10, A6, A8; north_star scoring).

Replaces the reference's per-row Keras loop with two closed-form residual
scorers, one physical form each:

1. ``sliding_zscore`` — JVM window-frame form (rolling mean/std over
   ``rowsBetween(-(w-1), 0)``); whole-stage-codegen'd, no Python. Semantics of
   /root/reference/statistication/moving_average.py:43-94 (residual vs rolling
   mean, sigma-rule threshold); rolling std is SAMPLE std (ddof=1) to match
   pandas ``rolling(w).std()`` (moving_average.py:83-86), while the stationary
   variant uses POPULATION std (numpy ``std()``, moving_average.py:58).
2. ``ewma_residual_chunked`` — one-step-ahead EWMA forecast residual
   (``adjust=False`` recursion, the classic s_t = α·x_t + (1-α)·s_{t-1}).
   Recursive ⇒ inherently ordered; computed by a vectorized pandas kernel
   over (key, time-slice) groups, each warmed up by a halo sized so the
   truncated tail of the recursion is below double precision
   ((1-α)^H < 2^-64) — exact-to-the-last-ulp rather than algebraically
   exact, and no single Python worker ever holds a whole hot key.

Thresholding: EXACT ``percentile`` (linear interpolation — same rule as
``np.percentile``, reference prediction/lstm_mts.py:344-355); never
``percentile_approx``. Labels are +1 anomaly / -1 normal (README.md:6-7).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mtsad_spark.operators.stats import fit_join
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.metrics import prf  # noqa: F401  (re-exported convenience)


def sliding_zscore(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    val_col: str,
    w: int,
    k: float = 3.0,
    min_periods: int | None = None,
) -> DataFrame:
    """Rolling z-score + sigma-rule label, pure window frames (JVM path).

    score = |x − rolling_mean_w| / rolling_std_w (ddof=1); label = +1 when
    score > k else -1. First ``min_periods-1`` rows per key get null
    score / label -1 (pandas ``rolling(w)`` NaN head semantics, reference
    moving_average.py:79-86).
    """
    mp = w if min_periods is None else min_periods
    win = Window.partitionBy(*keys).orderBy(order_col).rowsBetween(-(w - 1), 0)
    cnt_w = F.count(val_col).over(win)
    # gate by min_periods like pandas rolling(w): head rows → null
    mu = F.when(cnt_w >= mp, F.avg(val_col).over(win))
    sd = F.when(cnt_w >= mp, F.stddev_samp(val_col).over(win))
    score = F.when(sd > 0, F.abs(F.col(val_col) - mu) / sd)
    return (
        df.withColumn("roll_mean", mu)
        .withColumn("roll_std", sd)
        .withColumn("score", score)
        .withColumn(
            "label", F.when(F.col("score") > k, F.lit(1)).otherwise(F.lit(-1))
        )
    )


def _global_row_numbers(
    df: DataFrame, keys: list[str], order_col: str, coarse_width: float = 3600.0
) -> DataFrame:
    """Exact per-key 0-based row numbers WITHOUT an unsalted per-key window
    over the raw rows (the round-1 scale-killer: ``row_number() over
    (partitionBy(key))`` funnels every row of a hot key through one task).

    Composition trick: bucket rows by the order value (pure expression, no
    shuffle), count rows per (key, bucket) — an algebraic map-side-combined
    aggregate, so the only per-key sequential window runs over the tiny
    per-bucket COUNT frame (rows/coarse_width per key), never the rows.
    Global _rn = bucket_start_offset + row_number within (key, bucket), and
    the within-bucket window is partitioned by (key, bucket) — parallel.

    Exact for irregular/gappy series (unlike deriving slice ids from the
    order value directly, which under-fills row-count halos across gaps).
    ``order_col`` must be numeric or timestamp (cast to double = epoch
    seconds) and a total order per key — ties make row_number arrival-order
    dependent, as with any Spark window.
    """
    from .joins import _epoch

    b = df.withColumn(
        "_cb", F.floor(_epoch(df, order_col) / F.lit(coarse_width)).cast("long")
    )
    counts = b.groupBy(*keys, "_cb").agg(F.count(F.lit(1)).alias("_n"))
    woff = (
        Window.partitionBy(*keys)
        .orderBy("_cb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(woff), F.lit(0))
    ).drop("_n")
    wloc = Window.partitionBy(*keys, "_cb").orderBy(order_col)
    return (
        b.join(offsets, [*keys, "_cb"])
        .withColumn("_rn", F.col("_off") + F.row_number().over(wloc) - 1)
        .drop("_cb", "_off")
    )


def _slice_with_halo(
    df: DataFrame, keys: list[str], order_col: str, rows_per_slice: int, halo: int
) -> DataFrame:
    """Assign each row a (key, slice) and replicate the trailing ``halo`` rows
    of slice s into slice s+1 (SURVEY.md §4.2 halo-row construction).

    Slice index comes from the SCALABLE row numbering
    (:func:`_global_row_numbers` — per-bucket count composition, no unsalted
    per-key window over raw rows) — deterministic given a total order
    (callers must pass a tie-broken order_col). The union'd halo copies are
    marked ``_halo=true`` and dropped from the output after scoring; they
    exist only to warm up the finite window.
    """
    base = _global_row_numbers(df, keys, order_col)
    base = base.withColumn("_slice", (F.col("_rn") / rows_per_slice).cast("int"))
    # a halo longer than one slice must replicate into EVERY slice whose
    # warm-up range [s'*rps - halo, s'*rps) covers the row
    n_ahead = -(-halo // rows_per_slice)  # ceil
    # ONE pass (r7, guide §2.4): each row explodes to its own slice (j = 0)
    # plus every forward slice whose warm-up range covers it — the previous
    # own ∪ halo UNION evaluated the row-numbering join+window lineage once
    # per branch; the fused array-filter explode emits the identical row set
    # from a single evaluation, with _halo = (j != 0).
    js = F.filter(
        F.array(*[F.lit(j) for j in range(0, n_ahead + 1)]),
        lambda j: (j == 0)
        | (F.col("_rn") >= (F.col("_slice") + j) * rows_per_slice - halo),
    )
    return (
        base.withColumn("_j", F.explode(js))
        .withColumn("_halo", F.col("_j") != 0)
        .withColumn("_slice", F.col("_slice") + F.col("_j"))
        .drop("_j")
    )


def ewma_halo_rows(alpha: float, ulp_pow: int = 64) -> int:
    """Warm-up halo length H with (1-alpha)^H < 2^-ulp_pow."""
    return max(1, math.ceil(-ulp_pow * math.log(2) / math.log1p(-alpha)))


def ewma_residual_chunked(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    val_col: str,
    alpha: float = 0.1,
    rows_per_slice: int = 200_000,
) -> DataFrame:
    """One-step-ahead EWMA forecast residual per key (W10), in time slices
    of ``rows_per_slice`` rows with a decay-sized warm-up halo.

    level_t = α·x_t + (1-α)·level_{t-1}; resid_t = x_t − level_{t-1}
    (level_{-1} := x_0 ⇒ resid_0 = 0); score = |resid|. A NaN residual — the
    series' first row, or a NaN input — is 0. Exact to double precision
    (truncated recursion tail < 2^-64 of the level's magnitude); head rows of
    each slice are recomputed from the halo.
    """
    halo = ewma_halo_rows(alpha)
    sliced = _slice_with_halo(df, keys, order_col, rows_per_slice, halo)
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("ewma_level", DoubleType()), StructField("resid", DoubleType()), StructField("score", DoubleType())]
    )
    cols = [f.name for f in df.schema.fields]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_rn", kind="mergesort")
        level = pdf[val_col].ewm(alpha=alpha, adjust=False).mean()
        prior = level.shift(1)
        # no prior (the series' first row, a later slice's first row — a
        # halo row, dropped below) or a NaN input: residual 0
        resid = (pdf[val_col] - prior).fillna(0.0)
        out = pdf.assign(ewma_level=level, resid=resid, score=resid.abs())
        out = out[~out["_halo"]]
        return out[cols + ["ewma_level", "resid", "score"]]

    return sliced.groupBy(*keys, "_slice").applyInPandas(kernel, schema=out_schema)


def percentile_threshold(
    df: DataFrame,
    score_col: str,
    q: float,
    keys: list[str] | None = None,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Percentile threshold (q in [0,100]).

    ``exact=True`` (default): numpy linear-interpolation semantics
    (reference lstm_mts.py:344-355) — correct for rollup-sized frames, where
    the engine's exactness contract lives (SCALING.md). ``exact=False``:
    ``percentile_approx`` (Greenwald-Khanna, rank error ≤ 1/accuracy) — the
    documented scale path for thresholds over RAW 10^12-row scores, where an
    exact percentile would bottleneck the job and a 1e-4 rank tolerance is
    immaterial to a sweep."""
    p = F.lit(q / 100.0)
    expr = (
        F.percentile(score_col, p) if exact
        else F.percentile_approx(score_col, p, F.lit(accuracy))
    ).alias("threshold")
    if keys:
        return df.groupBy(*keys).agg(expr)
    return df.agg(expr)


def apply_threshold(df: DataFrame, score_col: str, threshold_df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Attach ±1 predicted tag by broadcast-joining the (tiny) threshold table."""
    joined = fit_join(df, threshold_df, keys or [], "left")
    return joined.withColumn(
        "tag_pred",
        F.when(F.col(score_col) > F.col("threshold"), F.lit(1)).otherwise(F.lit(-1)),
    )


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    truth_col: str,
    qs: list[int] | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """(q, threshold, precision, recall, f1) table — the reference's score
    sweep q ∈ {0,10,…,100} (lstm_mts.py:534-549) as one Spark plan:
    exact grouped percentiles → explode q literals → conditional aggs.
    """
    qs = qs or list(range(0, 101, 10))
    keys = keys or []
    # one percentile(array) agg per key → explode to (q, threshold) rows
    th = (
        df.groupBy(*keys)
        .agg(
            F.percentile(score_col, F.array(*[F.lit(q / 100.0) for q in qs])).alias("_ths")
        )
        .select(
            *keys,
            F.explode(
                F.arrays_zip(
                    F.array(*[F.lit(q) for q in qs]).alias("q"),
                    F.col("_ths").alias("threshold"),
                )
            ).alias("_z"),
        )
        .select(*keys, F.col("_z.q").alias("q"), F.col("_z.threshold").alias("threshold"))
    )
    joined = fit_join(df, th, keys, "inner")
    pred = F.when(F.col(score_col) > F.col("threshold"), 1).otherwise(-1)
    truth = F.col(truth_col)
    from ..functions.metrics import with_prf_columns

    tp = F.sum(((pred == 1) & (truth == 1)).cast("long")).alias("tp")
    fp = F.sum(((pred == 1) & (truth != 1)).cast("long")).alias("fp")
    fn = F.sum(((pred != 1) & (truth == 1)).cast("long")).alias("fn")
    agg = joined.groupBy(*keys, "q", "threshold").agg(tp, fp, fn)
    return with_prf_columns(agg).drop("tp", "fp", "fn").orderBy(*keys, "q")


def cusum_scores(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    val_col: str,
    k: float | None = None,
    h: float | None = None,
) -> DataFrame:
    """Two-sided CUSUM change-point scores over a tier-point series — the
    classic Page (1954) drift detector next to the reference's
    threshold-on-residual scorers (prediction/lstm_mts.py:531-545 tags a
    point when a score crosses a level; CUSUM accumulates small persistent
    shifts those per-point rules miss).

    Recurrences ``up_i = max(0, up_{i-1} + (x_i - k))`` and
    ``dn_i = max(0, dn_{i-1} + (k - x_i))`` look sequential, but both have
    the exact prefix closed form ``S_i = C_i - min(0, min_{j<=i} C_j)``
    with ``C`` the running sum of the deviations — so the whole detector is
    two window cumsums + two running mins, pure JVM whole-stage-codegen
    window algebra: NO Python kernel, no recursion, exact when ``x`` and
    ``k`` are integers (cents). ``k`` is the slack/reference value; the
    default is the per-key mean — computed as ``sum div count`` (exact
    BIGINT floor-mean) when ``val_col`` is integer-typed, so the default
    path keeps the exact-integer contract (code-review r6: ``F.avg`` made
    ``_k`` a double and voided it); for float inputs the default falls back
    to ``F.avg`` and the outputs are float window sums. Optional ``h``
    emits an ``alarm`` flag when either side exceeds it.

    Scale shape: per-key windows over ROLLUP tier points (the post-rollup
    scorer contract shared with counter_rate/sliding_zscore — never raw
    rows), one shuffle on (keys) total; the optional mean fit adds one
    map-side-combined aggregate joined back via stats/AQE (no forced
    broadcast — VERDICT r05 #4 convention).
    """
    from pyspark.sql import Window

    d = df
    if k is None:
        dtype = dict(df.dtypes)[val_col]
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            # exact BIGINT floor-mean: keeps cusum_up/dn pure integer algebra
            mean_expr = F.expr(
                f"sum(cast(`{val_col}` as bigint)) div count(`{val_col}`)"
            ).alias("_k")
        else:
            mean_expr = F.avg(val_col).alias("_k")
        fit = df.groupBy(*keys).agg(mean_expr)
        d = fit_join(df, fit, keys, "inner")
        k_col = F.col("_k")
    else:
        k_col = F.lit(k)
    w = Window.partitionBy(*keys).orderBy(ts_col).rowsBetween(Window.unboundedPreceding, 0)
    c_up = F.sum(F.col(val_col) - k_col).over(w)
    c_dn = F.sum(k_col - F.col(val_col)).over(w)
    out = (
        d.withColumn("_cu", c_up)
        .withColumn("_cd", c_dn)
        .withColumn("cusum_up", F.col("_cu") - F.least(F.min("_cu").over(w), F.lit(0)))
        .withColumn("cusum_dn", F.col("_cd") - F.least(F.min("_cd").over(w), F.lit(0)))
        .drop("_cu", "_cd", "_k")
    )
    if h is not None:
        out = out.withColumn(
            "alarm", (F.col("cusum_up") > F.lit(h)) | (F.col("cusum_dn") > F.lit(h))
        )
    return out


def time_weighted_avg(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    val_col: str,
    bucket: str = "day",
) -> DataFrame:
    """Trapezoidal time-weighted average per (keys, bucket) — the
    TimescaleDB ``time_weight('Linear')`` continuous-aggregate op the plain
    rollup mean gets wrong on irregularly-spaced points (a value that held
    for 50 minutes should weigh 50× one that held for a minute; the
    reference's resampling step assumes regular spacing and has no
    equivalent).

    Each consecutive pair within a key contributes the trapezoid
    ``(v_i + v_{i+1}) * Δt_sec``, attributed to the LEFT endpoint's bucket
    (documented convention; segments never straddle-split). With integer
    ``val_col`` (cents) the numerator and denominator are exact BIGINTs and
    ``twa = Σ num / (2 * Σ Δt)`` is ONE float division — bitwise
    cross-engine, no rounding (the memory-file integer-partials pattern).

    Scale shape: one lead() window per key over tier points + one
    map-side-combined groupBy on (keys, bucket); no Python, no skew beyond
    the key layout the rollup already has.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(ts_col)
    nxt_v = F.lead(val_col).over(w)
    nxt_t = F.lead(ts_col).over(w)
    # double-cast epoch seconds (the counter_rate/TIMESTAMP_NTZ-safe form),
    # re-cast long so the trapezoid numerator stays exact BIGINT
    dt = (nxt_t.cast("double") - F.col(ts_col).cast("double")).cast("long")
    seg = (
        df.withColumn("_num", (F.col(val_col) + nxt_v) * dt)
        .withColumn("_dt", dt)
        .where(F.col("_dt").isNotNull() & (F.col("_dt") > 0))
    )
    return (
        seg.groupBy(*keys, F.date_trunc(bucket, ts_col).alias("bucket_ts"))
        .agg(F.sum("_num").alias("_n"), F.sum("_dt").alias("_d"))
        .select(
            *keys,
            "bucket_ts",
            F.col("_n").alias("twa_num"),
            F.col("_d").alias("twa_den_sec"),
            (F.col("_n") / (F.lit(2) * F.col("_d"))).alias("twa"),
        )
    )

"""Statistical operators (SURVEY.md W5, W6, A1, A2, A4, A5, A13, P5).

Every op is pure Spark SQL expressions / window frames — JVM-side, codegen'd,
no Python. Exactness notes follow the reference's numpy/pandas semantics:

* W5 ``moving_average_same``: np.convolve(x, ones(w)/w, 'same') — the sum over
  the available rows of a CENTERED frame divided by the CONSTANT w (zero-padded
  edges bias edge values low — reference statistication/moving_average.py:23-40).
  Frame reach: left w//2, right (w-1)//2 (verified against numpy in tests).
* sigma rules: stationary σ is POPULATION std of the residual (np.std ddof=0,
  moving_average.py:55-63); rolling σ is SAMPLE std (pandas rolling().std()
  ddof=1, moving_average.py:79-94) with the reference's backfill of the first
  w-1 rows (fillna(method='backfill')).
* A1 ``znorm``: population std (ddof=0) — prediction/lstm_model.py:129-140.
* A2 ``minmax_fit``/``minmax_apply``/``minmax_invert``: scaler fit on train
  only, applied to train+test, invertible — prediction/main.py:58-80.
* A4/A5 ``median_mad``: exact percentile median; MAD both as mean-abs-dev
  (statistication/hp.py:27-28) and modified z-score 0.6745·d/median(d)
  (prediction/main.py:111-121).
* A13 ``gaussian_params``/``gaussian_density``: per-column mean + var_pop
  (np.var ddof=0, statistication/gaussian.py:37-66), diagonal-Σ density as a
  column expression.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fit_join(df: DataFrame, fit: DataFrame, on: list[str], how: str = "left") -> DataFrame:
    """Attach a fitted per-key frame (σ/μ/min-max/percentile/profile rows)
    WITHOUT a broadcast hint (VERDICT r05 #4): fit frames are
    KEY-proportional — one row per key group (× period/q cardinality for
    profiles and sweeps) — so a forced ``F.broadcast`` bypasses AQE's size
    check and fails outright at 10⁶+ keys instead of degrading to a shuffle
    join. Hint-free, runtime stats/AQE choose broadcast whenever the fit
    side actually fits (plan-asserted at fixture scale in
    tests/test_plans.py::test_fit_joins_broadcast_via_aqe_without_hints) and
    a shuffle join otherwise. Keyless fits are a single global row — there
    the broadcast hint is tautologically safe and kept."""
    if not on:
        return df.crossJoin(F.broadcast(fit))
    return df.join(fit, on, how)


def moving_average_same(
    df: DataFrame, keys: list[str], order_col: str, val_col: str, w: int, out_col: str = "ma"
) -> DataFrame:
    """W5: centered moving average with np.convolve 'same' zero-pad semantics."""
    left, right = w // 2, (w - 1) // 2
    win = Window.partitionBy(*keys).orderBy(order_col).rowsBetween(-left, right)
    return df.withColumn(out_col, F.sum(val_col).over(win) / F.lit(float(w)))


def sigma_rule_stationary(
    df: DataFrame, keys: list[str], order_col: str, val_col: str, w: int, k: float = 2.0
) -> DataFrame:
    """Reference pipeline statistication/moving_average.py:43-63: residual vs
    centered MA, STATIONARY population σ per key, |resid| > kσ ⇒ +1."""
    out = moving_average_same(df, keys, order_col, val_col, w)
    out = out.withColumn("resid", F.col(val_col) - F.col("ma"))
    # stationary σ per key: tiny fit aggregate + broadcast apply — NOT a
    # bare-key aggregate window over the raw rows (that shape funnels every
    # row of a hot key through one task at scale; plan-guarded in
    # tests/test_plans.py::test_no_bare_or_empty_key_aggregate_windows)
    sig = out.groupBy(*keys).agg(F.stddev_pop("resid").alias("sigma"))
    out = fit_join(out, sig, keys, "left")
    return out.withColumn(
        "label",
        F.when(F.abs(F.col("resid")) > k * F.col("sigma"), F.lit(1)).otherwise(F.lit(-1)),
    )


def sigma_rule_rolling(
    df: DataFrame, keys: list[str], order_col: str, val_col: str, w: int, k: float = 2.0
) -> DataFrame:
    """Reference moving_average.py:66-94: rolling SAMPLE σ of the residual with
    the first w-1 nulls backfilled (fillna backfill, :85-86)."""
    out = moving_average_same(df, keys, order_col, val_col, w)
    out = out.withColumn("resid", F.col(val_col) - F.col("ma"))
    roll = Window.partitionBy(*keys).orderBy(order_col).rowsBetween(-(w - 1), 0)
    cnt = F.count("resid").over(roll)
    sigma = F.when(cnt >= w, F.stddev_samp("resid").over(roll))
    out = out.withColumn("sigma", sigma)
    # backfill: first non-null sigma in the current-or-following frame
    fwd = Window.partitionBy(*keys).orderBy(order_col).rowsBetween(0, Window.unboundedFollowing)
    out = out.withColumn("sigma", F.first("sigma", ignorenulls=True).over(fwd))
    return out.withColumn(
        "label",
        F.when(F.abs(F.col("resid")) > k * F.col("sigma"), F.lit(1)).otherwise(F.lit(-1)),
    )


def znorm(df: DataFrame, val_cols: list[str], keys: list[str] | None = None) -> DataFrame:
    """A1: x := (x − mean)/std_pop per key group (global when keys empty).

    Scale shape (VERDICT r03 #2): tiny fit aggregate (map-side combined,
    fully parallel) + broadcast-join apply — the ``minmax_fit``/``apply``
    pattern. The previous empty/bare-key aggregate Window funneled every raw
    row through one task per key at scale; plan-guarded now in
    tests/test_plans.py::test_no_bare_or_empty_key_aggregate_windows.
    No collect: the stats frame stays a DataFrame (one row per key group).
    """
    keys = keys or []
    aggs = []
    for c in val_cols:
        aggs += [F.avg(c).alias(f"{c}__mu"), F.stddev_pop(c).alias(f"{c}__sd")]
    stats = df.groupBy(*keys).agg(*aggs)
    out = fit_join(df, stats, keys, "left")
    for c in val_cols:
        out = out.withColumn(c, (F.col(c) - F.col(f"{c}__mu")) / F.col(f"{c}__sd"))
    return out.drop(*[f"{c}__{m}" for c in val_cols for m in ("mu", "sd")])


def minmax_fit(train: DataFrame, val_cols: list[str], keys: list[str] | None = None) -> DataFrame:
    """A2: fit (min, max) per column on the TRAIN set only (main.py:60-71)."""
    aggs = []
    for c in val_cols:
        aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    return train.groupBy(*(keys or [])).agg(*aggs)


def minmax_apply(
    df: DataFrame, fitted: DataFrame, val_cols: list[str], keys: list[str] | None = None,
    feature_range: tuple[float, float] = (0.0, 1.0),
) -> DataFrame:
    lo, hi = feature_range
    joined = fit_join(df, fitted, keys or [], "left")
    for c in val_cols:
        span = F.col(f"{c}__max") - F.col(f"{c}__min")
        scaled = F.when(span != 0, (F.col(c) - F.col(f"{c}__min")) / span).otherwise(F.lit(0.0))
        joined = joined.withColumn(c, scaled * (hi - lo) + lo)
    return joined.drop(*[f"{c}__{m}" for c in val_cols for m in ("min", "max")])


def minmax_invert(
    df: DataFrame, fitted: DataFrame, val_cols: list[str], keys: list[str] | None = None,
    feature_range: tuple[float, float] = (0.0, 1.0),
) -> DataFrame:
    lo, hi = feature_range
    joined = fit_join(df, fitted, keys or [], "left")
    for c in val_cols:
        span = F.col(f"{c}__max") - F.col(f"{c}__min")
        joined = joined.withColumn(
            c, (F.col(c) - lo) / (hi - lo) * span + F.col(f"{c}__min")
        )
    return joined.drop(*[f"{c}__{m}" for c in val_cols for m in ("min", "max")])


def median_mad(df: DataFrame, val_col: str, keys: list[str] | None = None) -> DataFrame:
    """A4 + A5: exact median, mean-abs-deviation from mean (hp.py:27-28) and
    median-abs-deviation (basis of the modified z, prediction/main.py:111-121).
    Two-pass: centers first, then deviations — one extra rollup-sized join.
    """
    keys = keys or []
    centers = df.groupBy(*keys).agg(
        F.percentile(val_col, F.lit(0.5)).alias("median"),
        F.avg(val_col).alias("_mean"),
    )
    joined = fit_join(df, centers, keys, "inner")
    return joined.groupBy(*keys).agg(
        F.first("median").alias("median"),
        F.avg(F.abs(F.col(val_col) - F.col("_mean"))).alias("mean_abs_dev"),
        F.percentile(F.abs(F.col(val_col) - F.col("median")), F.lit(0.5)).alias("median_abs_dev"),
    )


def modified_zscore(df: DataFrame, val_col: str, keys: list[str] | None = None) -> DataFrame:
    """A5 modified z: 0.6745·|x − median| / median(|x − median|)
    (prediction/main.py:111-121)."""
    keys = keys or []
    stats = median_mad(df, val_col, keys)
    joined = fit_join(df, stats, keys, "inner")
    return joined.withColumn(
        "mod_z",
        F.lit(0.6745) * F.abs(F.col(val_col) - F.col("median")) / F.col("median_abs_dev"),
    ).drop("median", "mean_abs_dev", "median_abs_dev")


def gaussian_params(df: DataFrame, val_cols: list[str], keys: list[str] | None = None) -> DataFrame:
    """A13: per-column (mean, var_pop) — np.var ddof=0 (gaussian.py:37-66)."""
    aggs = []
    for c in val_cols:
        aggs += [F.avg(c).alias(f"{c}__mu"), F.var_pop(c).alias(f"{c}__var")]
    return df.groupBy(*(keys or [])).agg(*aggs)


def gaussian_density(
    df: DataFrame, params: DataFrame, val_cols: list[str], keys: list[str] | None = None,
    out_col: str = "density",
) -> DataFrame:
    """A13: diagonal-Σ multivariate normal density as one column expression
    (gaussian.py:69-99 with diag covariance)."""
    joined = fit_join(df, params, keys or [], "left")
    log_dens = F.lit(0.0)
    for c in val_cols:
        mu, var = F.col(f"{c}__mu"), F.col(f"{c}__var")
        log_dens = log_dens + (
            -0.5 * F.log(F.lit(2 * math.pi) * var) - F.pow(F.col(c) - mu, 2) / (2 * var)
        )
    out = joined.withColumn(out_col, F.exp(log_dens))
    return out.drop(*[f"{c}__{m}" for c in val_cols for m in ("mu", "var")])


def mae_residual(
    df: DataFrame, obs_cols: list[str], pred_cols: list[str], out_col: str = "mae"
) -> DataFrame:
    """A10 (prediction/lstm_mts.py:357-364): per-row mean absolute error
    across the d feature dimensions — one column expression, no shuffle."""
    assert len(obs_cols) == len(pred_cols)
    total = None
    for o, p in zip(obs_cols, pred_cols):
        t = F.abs(F.col(o) - F.col(p))
        total = t if total is None else total + t
    return df.withColumn(out_col, total / F.lit(float(len(obs_cols))))


def sliding_extrema(
    df: DataFrame, keys: list[str], order_col: str, val_col: str, w: int,
    min_col: str = "roll_min", max_col: str = "roll_max",
) -> DataFrame:
    """Trailing w-row rolling min/max (price-channel / envelope op; beyond
    the reference — PAPERS.md ICDE'25 sliding-window-aggregation line).

    JVM window-frame form: correct at any w, but min/max are NON-invertible
    aggregates, so the frame recomputes O(w) work per row — fine for
    rollup-sized frames and small w."""
    win = Window.partitionBy(*keys).orderBy(order_col).rowsBetween(-(w - 1), 0)
    return df.withColumn(min_col, F.min(val_col).over(win)).withColumn(
        max_col, F.max(val_col).over(win)
    )


def seasonal_profile_residual(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    val_col: str,
    period_expr: str = "hour",
    robust: bool = False,
) -> DataFrame:
    """Seasonal-profile decomposition on the rollup series (the rollup-engine
    counterpart of the FFT/HP detrenders in functions/signal.py): per
    (keys, phase) mean — phase = hour-of-day by default — broadcast back as
    the seasonal component, residual = value − profile. Classic
    daily-seasonality anomaly baseline (seasonal-naive): two shuffles total
    (one phase aggregate over the rollup-sized series, one broadcastable
    profile join — profiles are keys × period_cardinality rows at any data
    scale).

    ``robust=True`` swaps the phase mean for the EXACT median (never
    percentile_approx — the repo exactness rule): with integer cents the
    profile is an int or .5 half, bitwise equal to DuckDB's ``median``,
    and one outlier day cannot drag its phase's baseline (the Hampel
    rationale applied to the seasonal fit).

    Returns the input columns + ``phase``, ``profile``, ``residual``."""
    phase = F.extract(F.lit(period_expr), F.col(ts_col)).cast("int").alias("phase")
    d = df.withColumn("phase", phase)
    agg = (
        F.expr(f"percentile(`{val_col}`, 0.5)") if robust else F.avg(val_col)
    ).alias("profile")
    prof = d.groupBy(*keys, "phase").agg(agg)
    return fit_join(d, prof, [*keys, "phase"], "inner").withColumn(
        "residual", F.col(val_col) - F.col("profile")
    )


def counter_rate(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    counter_col: str,
    out_col: str = "rate",
) -> DataFrame:
    """PromQL-style ``rate()`` over a monotone counter with RESET handling:
    increase = counter − lag(counter), except when the counter dropped
    (process restart) the whole new value counts as the increase (the
    Prometheus reset rule); rate = increase / Δt seconds. First point per
    key is null (no interval).

    Scale shape: one lag window per key over the ROLLUP-sized series (this
    op consumes tier points, not raw rows — the same contract as every other
    post-rollup scorer)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(ts_col)
    prev_c = F.lag(counter_col).over(w)
    prev_t = F.lag(ts_col).over(w)
    inc = F.when(F.col(counter_col) >= prev_c, F.col(counter_col) - prev_c).otherwise(
        F.col(counter_col)  # reset: the counter restarted from ~0
    )
    dt = F.col(ts_col).cast("double") - prev_t.cast("double")
    return df.withColumn("increase", F.when(prev_c.isNotNull(), inc)).withColumn(
        out_col,
        F.when(prev_c.isNotNull() & (dt > 0), F.col("increase") / dt),
    )


def rolling_corr(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    x_col: str,
    y_col: str,
    window: int,
    out_col: str = "corr",
) -> DataFrame:
    """Trailing-window Pearson correlation between two ALIGNED integer
    series — the windowed form of the full-series correlation join
    (`driver_queries.cross_series_correlation`; cf. the published
    correlation-joins-over-time-series line of work). Beyond-reference
    LLM/observability surface: drifting cross-metric correlation is a
    standard change-detection signal the point-wise scorers can't see.

    Exactness contract: ``x_col``/``y_col`` must be integral (cents /
    counts). All five window sums (Σx, Σy, Σxy, Σx², Σy²) and the three
    moment combinations ``n·Σxy − Σx·Σy`` etc. stay BIGINT — caller must
    keep ``window · max|x| · max|y| < 2^63`` (hourly cent-sums are orders
    below) — so the ONE float step is ``num / (sqrt(d1) · sqrt(d2))`` on
    exactly-representable integers: bitwise-identical in any engine, no
    rounding anywhere (the seasonal_residual discipline).

    The window is the trailing ``window`` POINTS per key in ``order_col``
    order (row frame, not a time range — compose with gap_fill first if
    missing buckets must count). Rows with an incomplete frame, or zero
    variance in either series over the frame, emit NULL.

    Runs over TIER points (per-key rows bounded by retention), the
    zscore_roll24 window contract — never raw events.
    """
    wf = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-(window - 1), 0)
    )
    x, y = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    b = (
        df.withColumn("_n", F.count(F.lit(1)).over(wf))
        .withColumn("_sx", F.sum(x).over(wf))
        .withColumn("_sy", F.sum(y).over(wf))
        .withColumn("_sxy", F.sum(x * y).over(wf))
        .withColumn("_sxx", F.sum(x * x).over(wf))
        .withColumn("_syy", F.sum(y * y).over(wf))
    )
    n = F.lit(window).cast("long")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    d1 = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    d2 = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    corr = F.when(
        (F.col("_n") == window) & (d1 > 0) & (d2 > 0),
        num.cast("double") / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))),
    )
    return b.withColumn(out_col, corr).drop("_n", "_sx", "_sy", "_sxy", "_sxx", "_syy")


def fano_burstiness(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    fine_width_s: int,
    coarse_width_s: int,
) -> DataFrame:
    """Burstiness of an event stream per key and coarse window: the Fano
    factor (variance-to-mean ratio, public point-process statistic;
    Fano 1947) of fine-bucket event counts — ≈1 for Poisson arrivals,
    ≫1 for bursty traffic. The tier-algebra replacement for per-event
    inter-arrival statistics, whose raw-row per-key ordering is exactly
    the corpus-proportional window shape this repo bans.

    EXACT closed form over EMPTY-BUCKET-INCLUSIVE counts with zero
    gap-filling: with ``m = coarse/fine`` buckets per window (constant),
    ``n`` of them non-empty, Σc and Σc² integer sums over the non-empty
    ones, population variance/mean is

        fano = (m·Σc² − (Σc)²) / (m·Σc)

    — empty buckets add nothing to either sum, so the spine never needs to
    be materialized. Both sums are map-side-combined BIGINTs; the ONE float
    step is the final division (bitwise across engines/parallelism).
    Windows with no events are absent from the output (0/0); contract:
    ``m·Σc² < 2^63``.

    Returns ``(*keys, bucket_ts, n_events, n_active_buckets, fano)`` with
    ``bucket_ts`` the coarse window start.
    """
    if coarse_width_s % fine_width_s:
        raise ValueError(
            f"coarse_width_s ({coarse_width_s}) must be a multiple of "
            f"fine_width_s ({fine_width_s})"
        )
    m = coarse_width_s // fine_width_s
    # TIMESTAMP_NTZ needs the cast-to-TIMESTAMP hop before numeric (the
    # operators/joins._epoch lesson)
    fine = F.expr(
        f"CAST(CAST({ts_col} AS TIMESTAMP) AS LONG) div {fine_width_s}"
    )
    c = df.groupBy(
        *keys, fine.alias("_fb")
    ).agg(F.count(F.lit(1)).alias("_c"))
    g = c.groupBy(
        *keys,
        (F.floor(F.col("_fb") * fine_width_s / coarse_width_s) * coarse_width_s)
        .cast("timestamp")
        .alias("bucket_ts"),
    ).agg(
        F.sum("_c").alias("n_events"),
        F.count(F.lit(1)).alias("n_active_buckets"),
        F.sum(F.col("_c") * F.col("_c")).alias("_s2"),
    )
    num = F.lit(m).cast("long") * F.col("_s2") - F.col("n_events") * F.col("n_events")
    den = F.lit(m).cast("long") * F.col("n_events")
    return g.withColumn(
        "fano", num.cast("double") / den.cast("double")
    ).drop("_s2")


def seasonal_strength(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    val_col: str,
    period_expr: str = "hour",
) -> DataFrame:
    """Seasonality strength per key over an integer tier series — how much
    of the variance the seasonal phase profile explains (Hyndman's
    ``F_s = max(0, 1 − Var(remainder)/Var(total))`` with the phase-mean
    profile of :func:`seasonal_profile_residual` as the seasonal
    component, i.e. the one-way ANOVA R²).

    BALANCED-EXACT spec: phases are truncated to ``m = min_p n_p`` buckets
    per key (the FIRST m by bucket time — deterministic), which makes both
    sums of squares single-division expressions of exact BIGINT moments:
    ``SS_w = ΣS2_p − (ΣS1_p²)/m`` and ``SS_t = ΣS2_p − (ΣS1_p)²/(P·m)``
    — every integer is summed exactly (order-free), the handful of float
    steps are fixed expressions, so the strength is bitwise across engines
    and parallelism with NO rounding. Contract: ``Σ_p S1_p² < 2^63``
    (cents-scale tier loads are orders below); the global square runs in
    double (exact below 2^53).

    The only windows rank tier points per (key, phase) — phase-bounded
    frames. Returns ``(*keys, n_phases, m, n_used, strength)``;
    zero-variance keys emit NULL strength.
    """
    phase = F.extract(F.lit(period_expr), F.col(ts_col)).cast("int")
    d = df.select(
        *keys, F.col(ts_col).alias("_bt"), phase.alias("_ph"),
        F.col(val_col).cast("long").alias("_v"),
    )
    from mtsad_spark.plans.scope import scoped_persist

    d = scoped_persist(d)  # feeds the min-count fit AND the ranked filter
    m_fit = (
        d.groupBy(*keys, "_ph")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy(*keys)
        .agg(F.min("_n").alias("_m"))
    )
    wr = Window.partitionBy(*keys, "_ph").orderBy("_bt")
    ranked = (
        d.withColumn("_rk", F.row_number().over(wr))
        .join(m_fit, list(keys))
        .filter(F.col("_rk") <= F.col("_m"))
    )
    per_phase = ranked.groupBy(*keys, "_ph", "_m").agg(
        F.sum("_v").alias("_s1"), F.sum(F.col("_v") * F.col("_v")).alias("_s2")
    )
    per_key = per_phase.groupBy(*keys, "_m").agg(
        F.count(F.lit(1)).alias("n_phases"),
        F.sum("_s1").alias("_s1t"),
        F.sum("_s2").alias("_s2t"),
        F.sum(F.col("_s1") * F.col("_s1")).alias("_q"),
    )
    m_d = F.col("_m").cast("double")
    n_d = (F.col("n_phases") * F.col("_m")).cast("double")
    ssw = F.col("_s2t").cast("double") - F.col("_q").cast("double") / m_d
    sst = F.col("_s2t").cast("double") - (
        F.col("_s1t").cast("double") * F.col("_s1t").cast("double")
    ) / n_d
    strength = F.when(sst > 0, F.greatest(F.lit(0.0), F.lit(1.0) - ssw / sst))
    return per_key.select(
        *keys,
        "n_phases",
        F.col("_m").alias("m"),
        (F.col("n_phases") * F.col("_m")).alias("n_used"),
        strength.alias("strength"),
    )


def acf(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    val_col: str,
    lags: list[int],
) -> DataFrame:
    """Sample autocorrelation of an integer tier series per key at each
    requested lag — the Pearson correlation between the series and its
    k-point shift over the overlapping points (the statsmodels
    ``acf(adjusted)``-style pairwise form, re-expressed as exact moments).
    Beyond-reference observability surface: ACF is the standard
    periodicity/memory diagnostic feeding the reference's window-size and
    seasonality choices (cf. seasonal_strength; the reference hard-codes
    window lengths, e.g. /root/reference/statistication/main.py).

    Exactness: one pass builds all lag columns with ``F.lag`` over TIER
    POINTS per key (bounded by retention — never raw rows), stacks them to
    ``(key, lag, x, y)`` pairs, and aggregates the five BIGINT moments; the
    ONE float step per (key, lag) is ``num / (sqrt(d1)·sqrt(d2))`` on
    exactly-representable integers (the rolling_corr discipline) —
    bitwise across engines and parallelism. Contract: ``n·Σx² < 2^63``.

    Lags are POINT shifts in ``order_col`` order — compose with gap_fill
    first when missing buckets must count as time. Returns
    ``(*keys, lag, n_pairs, acf)``; degenerate variance emits NULL.
    """
    if not lags or any(k <= 0 for k in lags):
        raise ValueError("lags must be positive ints")
    w = Window.partitionBy(*keys).orderBy(order_col)
    x = F.col(val_col).cast("long")
    d = df.select(*keys, F.col(order_col), x.alias("_x"))
    for k in lags:
        d = d.withColumn(f"_y{k}", F.lag("_x", k).over(w))
    stack = ", ".join(f"{k}, _y{k}" for k in lags)
    pairs = d.select(
        *keys,
        F.col("_x"),
        F.expr(f"stack({len(lags)}, {stack}) AS (lag, _y)"),
    ).filter(F.col("_y").isNotNull())
    g = pairs.groupBy(*keys, "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("n_pairs")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    d1 = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    d2 = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    corr = F.when(
        (d1 > 0) & (d2 > 0),
        num.cast("double")
        / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))),
    )
    return g.withColumn("acf", corr).drop("_sx", "_sy", "_sxy", "_sxx", "_syy")


def spearman_corr(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
    out_col: str = "spearman",
) -> DataFrame:
    """Spearman rank correlation per key over aligned observation rows —
    Pearson over tie-averaged ranks, the robust (monotone-invariant)
    companion to ``rolling_corr``/``cross_series_correlation``. Beyond-
    reference robust-stats surface (the reference's correlation uses raw
    pandas ``corr``, e.g. feature screening in
    /root/reference/transformation/eeg_eye_state.py).

    EXACT-INTEGER spec: the tie-averaged rank ``rank_min + (t−1)/2`` (t =
    tie-group size) is fractional, so the op works on DOUBLE RANKS
    ``2·rank_min + t − 1`` — always integers, and Pearson is scale-
    invariant, so ρ over double ranks equals ρ over average ranks. All
    five moments stay BIGINT; the ONE float step is
    ``num / (sqrt(d1)·sqrt(d2))`` — bitwise across engines/parallelism.
    Contract: ``n³ ≲ 2^61`` per key (tier-point counts are orders below).

    Rank windows run per key over TIER POINTS (aligned observations of two
    series — bounded by retention), never raw rows. Returns
    ``(*keys, n_obs, out_col)``; constant series emit NULL.
    """
    wx = Window.partitionBy(*keys).orderBy(x_col)
    wy = Window.partitionBy(*keys).orderBy(y_col)
    tx = Window.partitionBy(*keys, x_col)
    ty = Window.partitionBy(*keys, y_col)
    d = df.select(*keys, F.col(x_col), F.col(y_col)).withColumns(
        {
            "_rx": 2 * F.rank().over(wx) + F.count(F.lit(1)).over(tx) - 1,
            "_ry": 2 * F.rank().over(wy) + F.count(F.lit(1)).over(ty) - 1,
        }
    )
    rx, ry = F.col("_rx").cast("long"), F.col("_ry").cast("long")
    g = d.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(rx).alias("_sx"),
        F.sum(ry).alias("_sy"),
        F.sum(rx * ry).alias("_sxy"),
        F.sum(rx * rx).alias("_sxx"),
        F.sum(ry * ry).alias("_syy"),
    )
    n = F.col("n_obs")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    d1 = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    d2 = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    rho = F.when(
        (d1 > 0) & (d2 > 0),
        num.cast("double")
        / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))),
    )
    return g.withColumn(out_col, rho).drop("_sx", "_sy", "_sxy", "_sxx", "_syy")


def trimmed_means(
    df: DataFrame,
    keys: list[str],
    val_col: str,
    trim_frac: float,
    tiebreak_col: str,
    scale: float = 1.0,
) -> DataFrame:
    """Trimmed AND winsorized mean of an integer tier series per key — the
    robust location estimators between the reference's mean (z-score path)
    and median (median_mad path): drop (trimmed) or clamp (winsorized) the
    lowest/highest ``floor(n·trim_frac)`` points.

    EXACT spec: ranks come from ``row_number`` over ``(val, tiebreak)`` —
    fully deterministic — so the kept set and the two winsor fences
    (values at ranks ``t+1`` and ``n−t``) are exact integer selections.
    Both means are one BIGINT sum over bounded frames divided once by
    ``scale·count`` — bitwise across engines/parallelism. ``scale`` converts
    integer units back (100.0 for cents).

    The only window is a row_number per key over TIER POINTS (the
    median_mad contract — bounded by retention, never raw rows). Returns
    ``(*keys, n_obs, n_trimmed_each, trimmed_mean, winsor_mean)``.
    """
    if not 0 <= trim_frac < 0.5:
        raise ValueError("trim_frac must be in [0, 0.5)")
    w = Window.partitionBy(*keys).orderBy("_v", tiebreak_col)
    v = F.col(val_col).cast("long")
    d = df.select(*keys, v.alias("_v"), F.col(tiebreak_col)).withColumn(
        "_rn", F.row_number().over(w)
    )
    counts = d.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_obs"))
    d = d.join(counts, list(keys)).withColumn(
        "_t", F.floor(F.col("n_obs") * F.lit(float(trim_frac))).cast("long")
    )
    lo, hi = F.col("_t") + 1, F.col("n_obs") - F.col("_t")
    mid = F.col("_rn").between(lo, hi)
    g = d.groupBy(*keys, "n_obs", "_t").agg(
        F.sum(F.when(mid, F.col("_v"))).alias("_smid"),
        F.min(F.when(mid, F.col("_v"))).alias("_vlo"),
        F.max(F.when(mid, F.col("_v"))).alias("_vhi"),
    )
    kept = (F.col("n_obs") - 2 * F.col("_t")).cast("double") * F.lit(float(scale))
    wsum = F.col("_smid") + F.col("_t") * (F.col("_vlo") + F.col("_vhi"))
    return g.select(
        *keys,
        "n_obs",
        F.col("_t").alias("n_trimmed_each"),
        (F.col("_smid").cast("double") / kept).alias("trimmed_mean"),
        (
            wsum.cast("double")
            / (F.col("n_obs").cast("double") * F.lit(float(scale)))
        ).alias("winsor_mean"),
    )


def rolling_median(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    val_col: str,
    window: int = 24,
    out_col: str = "med",
) -> DataFrame:
    """Exact sliding-window median over tier points — the ROBUST rolling
    baseline next to :func:`moving_average_same` (re-expresses the detrend
    role of the reference's moving-average residual path,
    /root/reference/prediction/lstm_mts.py:192-230, with a median filter
    that a single spike cannot drag; the reference has no robust variant).

    ``collect_list`` over a bounded rows-frame (``window`` points), sorted
    JVM-side, exact middle: odd count → the element, even → ``(a + b) / 2``
    — ONE float division of exact integers when ``val_col`` is integer
    cents, so the result is engine-exact (integers and .5 halves are
    representable; DuckDB's windowed ``median`` computes the same value).
    Warm-up rows (fewer than ``window`` points yet) use the shorter prefix
    frame; ``n_w`` reports the frame size.

    Scale shape: per-key rows-frame over ROLLUP tier points only (the
    post-rollup scorer contract — never raw rows); the transient array is
    bounded by ``window`` (24 longs), so memory per row is O(window), and
    no Python kernel is involved."""
    from pyspark.sql import Window

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    w = Window.partitionBy(*keys).orderBy(ts_col).rowsBetween(-(window - 1), 0)
    d = df.withColumn(
        "_arr", F.sort_array(F.collect_list(F.col(val_col).cast("long")).over(w))
    ).withColumn("n_w", F.size("_arr"))
    mid_hi = (F.col("n_w") / 2 + 1).cast("int")  # 1-based upper-middle
    mid_lo = (F.col("n_w") / 2).cast("int")
    odd = F.element_at("_arr", F.expr("int((n_w + 1) div 2)")).cast("double")
    even = (
        F.element_at("_arr", mid_lo) + F.element_at("_arr", mid_hi)
    ).cast("double") / F.lit(2.0)
    return d.withColumn(
        out_col, F.when(F.col("n_w") % 2 == 1, odd).otherwise(even)
    ).drop("_arr")


def hampel_filter(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    val_col: str,
    window: int = 24,
    n_sigmas: float = 3.0,
) -> DataFrame:
    """Hampel identifier over tier points — the ROBUST outlier detector
    (flag when ``|x − med| > n_sigmas · 1.4826 · MAD`` over a sliding
    frame), the median/MAD counterpart of sliding z-score W9
    (operators/scoring.sliding_zscore re-expresses the reference's
    mean/σ residual rule, /root/reference/prediction/lstm_mts.py:531-545;
    a single extreme point inflates σ and masks itself — the Hampel
    filter's breakdown point is 50%).

    Exactness: the sorted window array gives the exact median (ints and .5
    halves); deviations ``|x − med|`` are exact halves; their median (MAD)
    is an exact quarter — all representable doubles, bitwise equal to
    DuckDB's windowed ``median``/``mad``. The flag comparison and
    ``robust_z = (x − med) / (1.4826 · MAD)`` each involve one float
    multiply/divide in a FIXED association both engines replay; robust_z
    is NULL when MAD = 0 (constant window).

    Scale shape: identical to :func:`rolling_median` — one per-key rows
    frame over ROLLUP tier points, O(window) transient arrays, no Python.
    """
    from pyspark.sql import Window

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    w = Window.partitionBy(*keys).orderBy(ts_col).rowsBetween(-(window - 1), 0)
    d = df.withColumn(
        "_arr", F.sort_array(F.collect_list(F.col(val_col).cast("long")).over(w))
    ).withColumn("n_w", F.size("_arr"))

    def _mid(arr_col: str) -> "F.Column":
        odd = F.element_at(arr_col, F.expr("int((n_w + 1) div 2)")).cast("double")
        even = (
            F.element_at(arr_col, (F.col("n_w") / 2).cast("int")).cast("double")
            + F.element_at(arr_col, (F.col("n_w") / 2 + 1).cast("int")).cast(
                "double"
            )
        ) / F.lit(2.0)
        return F.when(F.col("n_w") % 2 == 1, odd).otherwise(even)

    d = d.withColumn("med", _mid("_arr"))
    d = d.withColumn(
        "_dev",
        F.array_sort(
            F.transform("_arr", lambda x: F.abs(x.cast("double") - F.col("med")))
        ),
    ).withColumn("mad", _mid("_dev"))
    thr = F.lit(float(n_sigmas) * 1.4826) * F.col("mad")
    dev = F.abs(F.col(val_col).cast("double") - F.col("med"))
    return (
        d.withColumn("is_outlier", dev > thr)
        .withColumn(
            "robust_z",
            F.when(
                F.col("mad") > 0, dev / (F.lit(1.4826) * F.col("mad"))
            ),
        )
        .drop("_arr", "_dev")
    )

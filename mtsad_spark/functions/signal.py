"""Signal kernels (SURVEY.md §2.7): FFT band-stop residual and HP-filter
detrending, as grouped pandas/Arrow kernels (no native Spark equivalent;
reference: /root/reference/statistication/fft.py and hp.py).

These run per (key) group — fixture-scale series. For long series, slice the
key with halos like operators/scoring.py (FFT is global-window by nature, so
the true scale path is per-chunk spectra; out of the north-rule critical
path per SURVEY.md §2.7).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType


def fft_bandstop_residual(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    val_col: str,
    low_cut: float = 0.04,
    k: float = 2.0,
) -> DataFrame:
    """Reference fft.py:37-49 semantics: zero out low-frequency components
    (|freq| < low_cut of the spectrum), inverse-transform → high-frequency
    residual; sigma-rule label on the residual (fft.py:79-86)."""
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("resid", DoubleType()), StructField("label", IntegerType())]
    )
    cols = [f.name for f in df.schema.fields]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        v = pdf[val_col].values.astype(np.float64)
        spec = np.fft.fft(v)
        freq = np.fft.fftfreq(len(v))
        spec[np.abs(freq) < low_cut] = 0
        resid = np.real(np.fft.ifft(spec))
        sigma = resid.std()
        label = np.where(np.abs(resid) > k * sigma, 1, -1).astype(np.int32)
        return pdf.assign(resid=resid, label=label)[cols + ["resid", "label"]]

    return df.groupBy(*keys).applyInPandas(kernel, schema=out_schema)


def _solve_sym_penta(
    a0: np.ndarray, a1: np.ndarray, a2: np.ndarray, y: np.ndarray
) -> np.ndarray:
    """O(n) LDLᵀ solve of a symmetric positive-definite PENTAdiagonal system
    (main diag a0[n], first off-diag a1[n-1], second off-diag a2[n-2]).
    No pivoting needed: SPD. Replaces the round-1 dense n×n solve (O(n²)
    memory / O(n³) time — 8 TB of matrix at 1M points); the reference itself
    solves sparsely (statistication/hp.py:18-24 spdiags)."""
    n = len(y)
    d = np.empty(n)
    l1 = np.zeros(n)  # L[i, i-1]
    l2 = np.zeros(n)  # L[i, i-2]
    d[0] = a0[0]
    l1[1] = a1[0] / d[0]
    d[1] = a0[1] - l1[1] * l1[1] * d[0]
    for i in range(2, n):
        l2[i] = a2[i - 2] / d[i - 2]
        l1[i] = (a1[i - 1] - l2[i] * d[i - 2] * l1[i - 1]) / d[i - 1]
        d[i] = a0[i] - l2[i] * l2[i] * d[i - 2] - l1[i] * l1[i] * d[i - 1]
    z = np.empty(n)  # forward: L z = y
    z[0] = y[0]
    z[1] = y[1] - l1[1] * z[0]
    for i in range(2, n):
        z[i] = y[i] - l1[i] * z[i - 1] - l2[i] * z[i - 2]
    z /= d
    x = np.empty(n)  # back: Lᵀ x = z
    x[n - 1] = z[n - 1]
    x[n - 2] = z[n - 2] - l1[n - 1] * x[n - 1]
    for i in range(n - 3, -1, -1):
        x[i] = z[i] - l1[i + 1] * x[i + 1] - l2[i + 2] * x[i + 2]
    return x


def _hp_filter(y: np.ndarray, lamb: float) -> np.ndarray:
    """Hodrick-Prescott trend: minimize ||y−t||² + λ||D²t||² ⇒
    t = (I + λ DᵀD)⁻¹ y, with D the 2nd-difference operator (hp.py:18-24).
    scipy-free banded O(n) solve: A = I + λDᵀD is SPD pentadiagonal.
    """
    n = len(y)
    if n < 3:
        return y.copy()
    m = n - 2
    # DᵀD diagonals from the [1, -2, 1] second-difference stencil
    dd0 = np.zeros(n)
    dd0[0:m] += 1.0
    dd0[1 : m + 1] += 4.0
    dd0[2 : m + 2] += 1.0
    dd1 = np.zeros(n - 1)
    dd1[0:m] += -2.0
    dd1[1 : m + 1] += -2.0
    dd2 = np.full(n - 2, 1.0)
    return _solve_sym_penta(
        1.0 + lamb * dd0, lamb * dd1, lamb * dd2, np.asarray(y, dtype=np.float64)
    )


def hp_residual_mad(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    val_col: str,
    lamb: float = 1600.0,
    k: float = 3.0,
) -> DataFrame:
    """Reference hp.py:44-63: HP-detrend, then modified-z on the residual
    (0.6745·|d−median| / median-abs-dev) with threshold k."""
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("trend", DoubleType()),
            StructField("resid", DoubleType()),
            StructField("mod_z", DoubleType()),
            StructField("label", IntegerType()),
        ]
    )
    cols = [f.name for f in df.schema.fields]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        y = pdf[val_col].values.astype(np.float64)
        trend = _hp_filter(y, lamb)
        resid = y - trend
        med = np.median(resid)
        mad = np.median(np.abs(resid - med))
        mod_z = 0.6745 * np.abs(resid - med) / mad if mad > 0 else np.zeros_like(resid)
        label = np.where(mod_z > k, 1, -1).astype(np.int32)
        return pdf.assign(trend=trend, resid=resid, mod_z=mod_z, label=label)[
            cols + ["trend", "resid", "mod_z", "label"]
        ]

    return df.groupBy(*keys).applyInPandas(kernel, schema=out_schema)


def epsilon_by_f1(
    df: DataFrame,
    density_col: str,
    truth_col: str,
    n_steps: int = 1000,
    keys: list[str] | None = None,
) -> DataFrame:
    """A12 (gaussian.py:113-125): sweep n_steps thresholds between min and max
    density, keep the argmax-F1 epsilon.

    r7 shape (guide §2.3 — the old form JOINED every row to every step, an
    ×n_steps row fan-out that hit 200 M rows at the sf1.0 bench corpus,
    measured 42 s): each row is BINNED once to the first step that predicts
    it positive (``m = min{i : density < lo + i·step}``), bin counts are
    prefix-summed over the ≤(n_steps+2)-row-per-key bin frame, and the
    confusion matrix per step falls out exactly — tp(i) = Σ_{b≤i} pos(b),
    fp(i) = Σ_{b≤i} neg(b), fn(i) = P − tp(i). One pass over the rows, no
    fan-out; measured 42 s → ~1.5 s at sf1.0 with identical output.

    Exactness: the bin is located with a floor-division ESTIMATE and then
    corrected by the EXACT original predicate ``density < lo + i·step``
    (two down / two up single-step adjustments) — so every count is decided
    by the same float comparison the join form evaluated. The estimate is
    within ±1 of the true bin whenever a few ulps of the density magnitude
    are below one step width (true for any sweep with ≥ n_steps
    distinguishable values — the regime where sweeping is meaningful; the
    corrections cover ±2). Per-step rows are then re-grouped by the FLOAT
    epsilon value, reproducing the join form's exact behavior when distinct
    steps collide to one float (including the degenerate lo == hi case,
    where all steps merge and counts sum n_steps-fold). Oracle-verified
    green at sf0.001/0.01/0.1 and test-verified vs the reference scan.
    """
    keys = keys or []
    df = df.select(*keys, density_col, truth_col)
    bounds = df.groupBy(*keys).agg(
        F.min(density_col).alias("_lo"), F.max(density_col).alias("_hi")
    ).withColumn("_step", (F.col("_hi") - F.col("_lo")) / n_steps)
    steps = bounds.select(
        *keys,
        F.explode(F.sequence(F.lit(1), F.lit(n_steps))).alias("_i"),
        "_step",
        F.col("_lo"),
    ).select(
        *keys, "_i", (F.col("_lo") + F.col("_i") * F.col("_step")).alias("epsilon")
    )
    j = (
        df.join(F.broadcast(bounds), keys, "inner")
        if keys
        else df.crossJoin(F.broadcast(bounds))
    )
    d = F.col(density_col)

    def eps(i):  # the EXACT step expression of the join form: _lo + i·_step
        return F.col("_lo") + i * F.col("_step")

    r = (d - F.col("_lo")) / F.col("_step")
    i0 = F.least(
        F.greatest(F.floor(r).cast("long") + 1, F.lit(1).cast("long")),
        F.lit(n_steps + 1).cast("long"),
    )

    def down(i):
        return F.when((i > 1) & (d < eps(i - 1)), i - 1).otherwise(i)

    def up(i):
        return F.when((i <= n_steps) & (d >= eps(i)), i + 1).otherwise(i)

    # degenerate _step == 0 (all densities equal): the join form's predicate
    # d < _lo + i·0 = _lo is false everywhere, so every row is "never
    # predicted" — bin n_steps+1 (the ratio r is NaN there, so the estimate
    # path must not run; the corrections below leave n_steps+1 unchanged)
    truth = F.col(truth_col) == 1
    ib = F.when(F.col("_step") > 0, i0).otherwise(F.lit(n_steps + 1).cast("long"))
    j = j.select(*keys, density_col, "_lo", "_step", truth.alias("_t"), ib.alias("_b"))
    # one select per correction step: nested, each `when` copies its
    # argument 3-4 times and the hash-aggregate key outgrows janino's 64 KB
    # method limit, so whole-stage codegen fails to compile
    for step in (down, down, up, up):
        j = j.withColumn("_b", step(F.col("_b")))
    bins = (
        j.groupBy(*keys, "_b")
        .agg(
            F.sum(F.col("_t").cast("long")).alias("_pos"),
            F.sum((~F.col("_t")).cast("long")).alias("_neg"),
        )
    )
    totals = df.groupBy(*keys).agg(F.sum(truth.cast("long")).alias("_P"))
    s = steps.alias("s")
    b = bins.alias("b")
    cond = F.col("b._b") <= F.col("s._i")
    for k in keys:
        cond = (F.col(f"s.{k}") == F.col(f"b.{k}")) & cond
    per_step = (
        s.join(b, cond, "left")
        .groupBy(*[F.col(f"s.{k}") for k in keys], F.col("s._i"), F.col("s.epsilon"))
        .agg(
            F.coalesce(F.sum("b._pos"), F.lit(0).cast("long")).alias("tp"),
            F.coalesce(F.sum("b._neg"), F.lit(0).cast("long")).alias("fp"),
        )
    )
    per_step = per_step.toDF(*keys, "_i", "epsilon", "tp", "fp")
    per_step = (
        (per_step.join(F.broadcast(totals), keys, "inner") if keys
         else per_step.crossJoin(F.broadcast(totals)))
        .withColumn("fn", F.col("_P") - F.col("tp"))
    )
    # merge per-step rows whose float epsilon collides — the join form
    # grouped by the VALUE, so colliding steps' counts sum
    agg = per_step.groupBy(*keys, "epsilon").agg(
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
    )
    from .metrics import with_prf_columns

    scored = with_prf_columns(agg)
    # deterministic tiebreak: adjacent epsilon steps often yield identical
    # confusion matrices (tied f1) — keep the LOWEST epsilon among the max-f1
    # rows, matching the reference's first-best strict-> scan
    # (gaussian.py:113-125). max_by on (f1, -epsilon) is order-independent.
    return scored.groupBy(*keys).agg(
        F.max_by("epsilon", F.struct(F.col("f1"), (-F.col("epsilon")).alias("_ne"))).alias("epsilon"),
        F.max("f1").alias("f1"),
    )

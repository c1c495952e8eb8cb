"""Golden tests: each statistical operator vs a numpy/pandas oracle
re-implementing the cited reference semantics exactly (SURVEY.md §5.2 item 2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mtsad_spark.fixtures import uts_plain, uts_plain_df
from mtsad_spark.operators.stats import (
    gaussian_density,
    gaussian_params,
    median_mad,
    minmax_apply,
    minmax_fit,
    minmax_invert,
    modified_zscore,
    moving_average_same,
    sigma_rule_rolling,
    sigma_rule_stationary,
    znorm,
)


@pytest.fixture(scope="module")
def uts(spark):
    return uts_plain_df(spark, size=500).withColumn("k", F.lit("a")).cache()


@pytest.fixture(scope="module")
def uts_pdf():
    return uts_plain(size=500)


@pytest.mark.parametrize("w", [3, 4, 7, 10, 25])
def test_moving_average_matches_np_convolve(spark, uts, uts_pdf, w):
    """W5 — THE exactness trap: sum over available rows / constant w, centered
    'same' kernel (left reach w//2, right reach (w-1)//2)."""
    got = (
        moving_average_same(uts, ["k"], "idx", "value", w)
        .orderBy("idx")
        .select("ma")
        .toPandas()["ma"]
        .values
    )
    want = np.convolve(uts_pdf["value"].values, np.ones(w) / w, "same")
    assert np.allclose(got, want, rtol=1e-12, atol=1e-12), w


def test_sigma_rule_stationary_oracle(spark, uts, uts_pdf):
    w, k = 10, 2.0
    got = (
        sigma_rule_stationary(uts, ["k"], "idx", "value", w, k)
        .orderBy("idx")
        .select("resid", "sigma", "label")
        .toPandas()
    )
    v = uts_pdf["value"].values
    resid = v - np.convolve(v, np.ones(w) / w, "same")
    sigma = resid.std()  # ddof=0
    pred = np.where(np.abs(resid) > k * sigma, 1, -1)
    assert np.allclose(got["resid"].values, resid, rtol=1e-12, atol=1e-12)
    assert got["sigma"].values[0] == pytest.approx(sigma, rel=1e-12)
    assert (got["label"].values == pred).all()
    assert (pred == 1).sum() > 0  # the rule actually fires somewhere


def test_sigma_rule_rolling_backfill(spark, uts, uts_pdf):
    w = 12
    got = (
        sigma_rule_rolling(uts, ["k"], "idx", "value", w, 2.0)
        .orderBy("idx")
        .select("sigma")
        .toPandas()["sigma"]
        .values
    )
    v = pd.Series(uts_pdf["value"].values)
    resid = v - np.convolve(v, np.ones(w) / w, "same")
    sigma = resid.rolling(w).std().bfill().values  # ddof=1 + backfill (:85-86)
    assert np.allclose(got, sigma, rtol=1e-9)


def test_znorm_population_std(spark, uts, uts_pdf):
    got = znorm(uts, ["value"], keys=["k"]).orderBy("idx").toPandas()["value"].values
    v = uts_pdf["value"].values
    want = (v - v.mean()) / v.std()  # ddof=0 (lstm_model.py:129-140)
    assert np.allclose(got, want, rtol=1e-12)


def test_minmax_fit_apply_invert(spark, uts, uts_pdf):
    train = uts.filter("idx < 400")
    fitted = minmax_fit(train, ["value"])
    scaled = minmax_apply(uts, fitted, ["value"])
    back = minmax_invert(scaled, fitted, ["value"]).orderBy("idx").toPandas()
    assert np.allclose(back["value"].values, uts_pdf["value"].values, rtol=1e-12)
    v = uts_pdf["value"].values
    tmin, tmax = v[:400].min(), v[:400].max()
    want = (v - tmin) / (tmax - tmin)  # fit on train, applied to all (main.py:58-80)
    got = scaled.orderBy("idx").toPandas()["value"].values
    assert np.allclose(got, want, rtol=1e-12)
    # test rows outside the train range CAN exceed [0,1] — scaler is not refit
    assert got.max() >= 1.0 or got.min() <= 0.0 or (0 <= got).all()


def test_median_mad_modified_z(spark, uts, uts_pdf):
    row = median_mad(uts, "value").collect()[0]
    v = uts_pdf["value"].values
    assert row["median"] == pytest.approx(np.median(v), rel=1e-12)
    assert row["mean_abs_dev"] == pytest.approx(np.abs(v - v.mean()).mean(), rel=1e-12)
    d = np.abs(v - np.median(v))
    assert row["median_abs_dev"] == pytest.approx(np.median(d), rel=1e-12)
    mz = modified_zscore(uts, "value").orderBy("idx").toPandas()["mod_z"].values
    want = 0.6745 * d / np.median(d)  # prediction/main.py:111-121
    assert np.allclose(mz, want, rtol=1e-12)


def test_gaussian_density_oracle(spark):
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({"x": rng.randn(800) * 2 + 1, "y": rng.randn(800) * 0.5 - 3})
    df = spark.createDataFrame(pdf)
    params = gaussian_params(df, ["x", "y"])
    got = gaussian_density(df, params, ["x", "y"]).toPandas()
    mu_x, var_x = pdf["x"].mean(), pdf["x"].var(ddof=0)
    mu_y, var_y = pdf["y"].mean(), pdf["y"].var(ddof=0)

    def dens(x, mu, var):
        return np.exp(-((x - mu) ** 2) / (2 * var)) / np.sqrt(2 * np.pi * var)

    want = dens(got["x"].values, mu_x, var_x) * dens(got["y"].values, mu_y, var_y)
    assert np.allclose(got["density"].values, want, rtol=1e-10)


@pytest.mark.parametrize("w,rps", [(1, 40), (5, 40), (24, 64), (24, 23), (7, 1000)])
def test_sliding_extrema_chunked_matches_jvm_and_pandas(spark, w, rps):
    """JVM window-frame rolling min/max == pandas rolling, and so does the
    chunked evaluation: per-(key, slice) pandas rolling over the halo slicer
    with an exact (w-1)-row halo, across non-dividing widths and slice sizes
    (multi-slice, and a halo longer than one slice at w=24, rps=23)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from mtsad_spark.operators.scoring import _slice_with_halo
    from mtsad_spark.operators.stats import sliding_extrema

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 300 + ["b"] * 157,
            "t": list(range(300)) + list(range(157)),
            "v": np.round(rng.randn(457) * 10, 3),
        }
    )
    df = spark.createDataFrame(pdf)
    jvm = (
        sliding_extrema(df, ["k"], "t", "v", w)
        .toPandas().sort_values(["k", "t"]).reset_index(drop=True)
    )

    data_cols = list(df.columns)
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("roll_min", DoubleType()), StructField("roll_max", DoubleType())]
    )

    def kernel(part: pd.DataFrame) -> pd.DataFrame:
        part = part.sort_values("t", kind="mergesort")
        r = part["v"].rolling(w, min_periods=1)
        part = part.assign(roll_min=r.min().values, roll_max=r.max().values)
        return part[~part["_halo"]][data_cols + ["roll_min", "roll_max"]]

    chk = (
        _slice_with_halo(df, ["k"], "t", rps, w - 1)
        .groupBy("k", "_slice").applyInPandas(kernel, schema=out_schema)
        .toPandas().sort_values(["k", "t"]).reset_index(drop=True)
    )
    want = pdf.sort_values(["k", "t"]).reset_index(drop=True)
    g = want.groupby("k")["v"]
    want["roll_min"] = g.rolling(w, min_periods=1).min().values
    want["roll_max"] = g.rolling(w, min_periods=1).max().values
    assert len(chk) == len(want), (w, rps)
    for col in ("roll_min", "roll_max"):
        assert (jvm[col].values == want[col].values).all(), (w, rps, col, "jvm")
        assert (chk[col].values == want[col].values).all(), (w, rps, col, "chunked")


def test_seasonal_profile_residual_matches_pandas(spark):
    import pandas as pd

    from mtsad_spark.operators.stats import seasonal_profile_residual

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 96 + ["b"] * 96,
            "ts": list(pd.date_range("2024-03-01", periods=96, freq="h")) * 2,
            "v": [float((i % 24) * 10 + (i % 7)) for i in range(96)]
            + [float(100 - (i % 24)) for i in range(96)],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        seasonal_profile_residual(df, ["k"], "ts", "v", "hour")
        .toPandas().sort_values(["k", "ts"]).reset_index(drop=True)
    )
    pdf["phase"] = pdf["ts"].dt.hour
    prof = pdf.groupby(["k", "phase"])["v"].mean().rename("profile")
    want = pdf.join(prof, on=["k", "phase"])
    want["residual"] = want["v"] - want["profile"]
    want = want.sort_values(["k", "ts"]).reset_index(drop=True)
    assert (got["phase"].values == want["phase"].values).all()
    assert abs(got["profile"].values - want["profile"].values).max() < 1e-12
    assert abs(got["residual"].values - want["residual"].values).max() < 1e-12


def test_counter_rate_handles_resets_like_prometheus(spark):
    """Crafted counter with a restart: the reset interval's increase is the
    whole new value (Prometheus rule), rates divide by the true Δt, the
    first point is null."""
    import datetime as dt

    from mtsad_spark.operators.stats import counter_rate

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0, 100),
        ("a", t0 + dt.timedelta(seconds=60), 160),     # +60 over 60s → 1.0/s
        ("a", t0 + dt.timedelta(seconds=180), 400),    # +240 over 120s → 2.0/s
        ("a", t0 + dt.timedelta(seconds=240), 30),     # RESET → increase 30 → 0.5/s
        ("a", t0 + dt.timedelta(seconds=300), 90),     # +60 → 1.0/s
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, c long")
    got = (
        counter_rate(df, ["k"], "ts", "c")
        .toPandas().sort_values("ts").reset_index(drop=True)
    )
    assert got["increase"].isna().iloc[0] and got["rate"].isna().iloc[0]
    assert list(got["increase"].iloc[1:]) == [60, 240, 30, 60]
    assert list(got["rate"].iloc[1:]) == [1.0, 2.0, 0.5, 1.0]


def test_rolling_corr_vs_numpy(spark):
    """rolling_corr must equal np.corrcoef over every complete trailing
    window, emit NULL for incomplete frames and zero-variance windows, and
    be bitwise-identical to the integer-moment formula."""
    import numpy as np

    from mtsad_spark.operators.stats import rolling_corr

    rng = np.random.default_rng(5)
    n, w = 60, 12
    x = rng.integers(-500, 500, size=n)
    y = (x // 2 + rng.integers(-100, 100, size=n)).astype(np.int64)
    y[40:40 + w] = 7  # a zero-variance y window
    rows = [("k", int(i), int(x[i]), int(y[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "key string, t int, x long, y long")
    got = (
        rolling_corr(df, ["key"], "t", "x", "y", w)
        .orderBy("t")
        .select("t", "corr")
        .collect()
    )
    assert len(got) == n
    for r in got:
        i = r["t"]
        if i < w - 1:
            assert r["corr"] is None, i
            continue
        xs, ys = x[i - w + 1 : i + 1], y[i - w + 1 : i + 1]
        if xs.std() == 0 or ys.std() == 0:
            assert r["corr"] is None, i
            continue
        want = np.corrcoef(xs, ys)[0, 1]
        assert abs(r["corr"] - want) < 1e-12, (i, r["corr"], want)
        # exact integer-moment recompute must be BITWISE equal
        sx, sy = int(xs.sum()), int(ys.sum())
        sxy = int((xs.astype(object) * ys.astype(object)).sum())
        sxx, syy = int((xs.astype(object) ** 2).sum()), int((ys.astype(object) ** 2).sum())
        num = w * sxy - sx * sy
        d1, d2 = w * sxx - sx * sx, w * syy - sy * sy
        assert r["corr"] == float(num) / (
            np.sqrt(float(d1)) * np.sqrt(float(d2))
        ), i


def test_fano_burstiness_vs_numpy(spark):
    """Fano factor must equal numpy var_pop/mean over EMPTY-BUCKET-INCLUSIVE
    fine counts, with Poisson ~1 and planted bursts >> 1."""
    import datetime as dt

    import numpy as np

    from mtsad_spark.operators.stats import fano_burstiness

    rng = np.random.default_rng(17)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # key 'poisson': uniform arrivals over one hour
    for s in sorted(rng.integers(0, 3600, size=2000).tolist()):
        rows.append(("poisson", t0 + dt.timedelta(seconds=int(s))))
    # key 'bursty': everything inside two 1-minute spikes
    for s in sorted(rng.integers(0, 60, size=1000).tolist()):
        rows.append(("bursty", t0 + dt.timedelta(seconds=int(s))))
    for s in sorted(rng.integers(1800, 1860, size=1000).tolist()):
        rows.append(("bursty", t0 + dt.timedelta(seconds=int(s))))
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    got = {
        r["key"]: r
        for r in fano_burstiness(df, ["key"], "ts", 60, 3600).collect()
    }
    assert len(got) == 2
    for key in ("poisson", "bursty"):
        counts = np.zeros(60, dtype=np.int64)
        for k, ts in rows:
            if k == key:
                counts[int((ts - t0).total_seconds()) // 60] += 1
        want = counts.var() / counts.mean()
        r = got[key]
        assert r["n_events"] == counts.sum()
        assert r["n_active_buckets"] == int((counts > 0).sum())
        assert abs(r["fano"] - want) < 1e-9, (key, r["fano"], want)
        # bitwise vs the closed form
        s, s2 = int(counts.sum()), int((counts**2).sum())
        assert r["fano"] == float(60 * s2 - s * s) / float(60 * s)
    assert got["bursty"]["fano"] > 50 * got["poisson"]["fano"]
    with pytest.raises(ValueError):
        fano_burstiness(df, ["key"], "ts", 60, 100)


def test_seasonal_strength_vs_python(spark):
    """Balanced-spec seasonality strength must equal a python recompute
    bitwise, read near 1 for a strong daily profile and near 0 for noise,
    and truncate unbalanced phases deterministically."""
    import datetime as dt

    import numpy as np

    from mtsad_spark.operators.stats import seasonal_strength

    rng = np.random.default_rng(53)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    series = {}
    for key, seasonal in (("wave", True), ("noise", False)):
        vals = []
        n_hours = 24 * 6 + 5  # unbalanced: 5 phases get an extra bucket
        for h in range(n_hours):
            base = 10_000 + (8_000 * np.sin(2 * np.pi * (h % 24) / 24) if seasonal else 0)
            v = int(base + rng.integers(-500, 500))
            ts = t0 + dt.timedelta(hours=h)
            rows.append((key, ts, v))
            vals.append((ts, v))
        series[key] = vals
    df = spark.createDataFrame(rows, "key string, ts timestamp, load long")
    got = {r["key"]: r for r in seasonal_strength(df, ["key"], "ts", "load").collect()}

    def spec(vals):
        by_phase = {}
        for ts, v in vals:
            by_phase.setdefault(ts.hour, []).append((ts, v))
        m = min(len(x) for x in by_phase.values())
        s1t = s2t = q = 0
        for ph, items in by_phase.items():
            items.sort()
            vs = [v for _, v in items[:m]]
            s1, s2 = sum(vs), sum(v * v for v in vs)
            s1t += s1
            s2t += s2
            q += s1 * s1
        P = len(by_phase)
        ssw = float(s2t) - float(q) / float(m)
        sst = float(s2t) - (float(s1t) * float(s1t)) / float(P * m)
        return P, m, max(0.0, 1.0 - ssw / sst)

    for key, vals in series.items():
        P, m, want = spec(vals)
        r = got[key]
        assert (r["n_phases"], r["m"], r["n_used"]) == (P, m, P * m)
        assert r["strength"] == want, key  # bitwise
    assert got["wave"]["strength"] > 0.95
    assert got["noise"]["strength"] < 0.2


def test_acf_vs_numpy(spark):
    """acf must equal np.corrcoef(x[k:], x[:-k]) per key and lag, bitwise
    against the integer-moment formula, and NULL on constant series."""
    import numpy as np

    from mtsad_spark.operators.stats import acf

    rng = np.random.default_rng(11)
    series = {
        "s": (100 * np.sin(np.arange(48) * 2 * np.pi / 12) + 500).astype(int),
        "r": rng.integers(0, 1000, 48),
        "c": np.full(48, 7),
    }
    rows = [
        (k, int(i), int(v)) for k, xs in series.items() for i, v in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "k string, i long, v long")
    got = {
        (r.k, r.lag): (r.n_pairs, r.acf)
        for r in acf(df, ["k"], "i", "v", [1, 12, 24]).collect()
    }
    for k, xs in series.items():
        for lag in (1, 12, 24):
            n_pairs, rho = got[(k, lag)]
            assert n_pairs == 48 - lag
            x, y = xs[lag:].astype(np.int64), xs[:-lag].astype(np.int64)
            if k == "c":
                assert rho is None
                continue
            n = len(x)
            num = n * int(np.sum(x * y)) - int(np.sum(x)) * int(np.sum(y))
            d1 = n * int(np.sum(x * x)) - int(np.sum(x)) ** 2
            d2 = n * int(np.sum(y * y)) - int(np.sum(y)) ** 2
            expect = float(num) / (np.sqrt(float(d1)) * np.sqrt(float(d2)))
            assert rho == expect  # bitwise
            assert abs(rho - np.corrcoef(x, y)[0, 1]) < 1e-12
    import pytest as _pt

    with _pt.raises(ValueError):
        acf(df, ["k"], "i", "v", [])
    with _pt.raises(ValueError):
        acf(df, ["k"], "i", "v", [0])


def test_spearman_vs_pandas(spark):
    """spearman_corr must equal pandas' tie-averaged Spearman per key
    (monotone map of x gives exactly 1) and NULL on a constant side."""
    import numpy as np
    import pandas as pd

    from mtsad_spark.operators.stats import spearman_corr

    rng = np.random.default_rng(3)
    x = rng.integers(0, 50, 200)          # plenty of ties
    y_mono = (x.astype(np.int64) ** 3) * 2 + 1
    y_noise = rng.integers(0, 50, 200)
    rows = (
        [("mono", int(a), int(b)) for a, b in zip(x, y_mono)]
        + [("noise", int(a), int(b)) for a, b in zip(x, y_noise)]
        + [("const", int(a), 5) for a in x]
    )
    df = spark.createDataFrame(rows, "k string, x long, y long")
    got = {
        r.k: (r.n_obs, r.spearman)
        for r in spearman_corr(df, ["k"], "x", "y").collect()
    }
    assert got["const"][1] is None
    assert got["mono"] == (200, 1.0)
    expect = (
        pd.Series(x).rank().corr(pd.Series(y_noise).rank(), method="pearson")
    )
    assert abs(got["noise"][1] - expect) < 1e-12


def test_trimmed_means_vs_python(spark):
    """trimmed_means must equal the sorted-python trim/winsorize at several
    fractions, honor the deterministic tiebreak, and scale integer units."""
    import numpy as np
    import pytest as _pt

    from mtsad_spark.operators.stats import trimmed_means

    rng = np.random.default_rng(7)
    vals = rng.integers(-500, 500, 101)
    rows = [("a", int(i), int(v)) for i, v in enumerate(vals)]
    rows += [("b", int(i), int(v)) for i, v in enumerate(vals[:10])]
    df = spark.createDataFrame(rows, "k string, i long, v long")
    for frac in (0.0, 0.1, 0.25, 0.49):
        got = {
            r.k: r
            for r in trimmed_means(df, ["k"], "v", frac, "i", scale=100.0).collect()
        }
        for k, xs in (("a", vals), ("b", vals[:10])):
            s = np.sort(xs.astype(np.int64))
            n, t = len(s), int(np.floor(len(s) * frac))
            mid = s[t : n - t]
            exp_tr = float(int(mid.sum())) / (float(n - 2 * t) * 100.0)
            wsum = int(mid.sum()) + t * (int(s[t]) + int(s[n - t - 1]))
            exp_wz = float(wsum) / (float(n) * 100.0)
            r = got[k]
            assert (r.n_obs, r.n_trimmed_each) == (n, t)
            assert r.trimmed_mean == exp_tr and r.winsor_mean == exp_wz
    with _pt.raises(ValueError):
        trimmed_means(df, ["k"], "v", 0.5, "i")


def test_rolling_median_vs_pandas(spark):
    """Exact sliding median (W-family robust baseline): must equal pandas
    .rolling(w, min_periods=1).median() on integer cents — including the
    warm-up prefix and even/odd frame sizes."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from mtsad_spark.operators.stats import rolling_median

    rng = np.random.default_rng(17)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for key, n in (("a", 60), ("b", 7), ("c", 1)):
        v = rng.integers(-500, 500, size=n)
        rows += [(key, t0 + dt.timedelta(hours=i), int(v[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, v long")
    got = (
        rolling_median(df, ["key"], "ts", "v", window=24)
        .toPandas()
        .sort_values(["key", "ts"])
        .reset_index(drop=True)
    )
    pdf = pd.DataFrame(rows, columns=["key", "ts", "v"]).sort_values(["key", "ts"])
    want = (
        pdf.groupby("key")["v"].rolling(24, min_periods=1).median().reset_index(drop=True)
    )
    assert np.array_equal(got["med"].to_numpy(), want.to_numpy())
    nw = pdf.groupby("key")["v"].rolling(24, min_periods=1).count().reset_index(drop=True)
    assert np.array_equal(got["n_w"].to_numpy(), nw.to_numpy().astype(int))
    with pytest.raises(ValueError):
        rolling_median(df, ["key"], "ts", "v", window=0)


def test_hampel_filter_vs_python(spark):
    """Hampel identifier: med/MAD must equal a python sliding replay, the
    planted spike must flag (while the plain mean/σ z-score is dragged),
    and robust_z must be NULL on constant windows."""
    import datetime as dt

    import numpy as np

    from mtsad_spark.operators.stats import hampel_filter

    t0 = dt.datetime(2024, 1, 1)
    base = [100, 102, 98, 101, 99, 103, 97, 100, 5000, 101, 99, 102]
    rows = [("a", t0 + dt.timedelta(hours=i), v) for i, v in enumerate(base)]
    rows += [("c", t0 + dt.timedelta(hours=i), 42) for i in range(5)]  # constant
    df = spark.createDataFrame(rows, "key string, ts timestamp, v long")
    got = (
        hampel_filter(df, ["key"], "ts", "v", window=5, n_sigmas=3.0)
        .toPandas()
        .sort_values(["key", "ts"])
        .reset_index(drop=True)
    )

    def py_med(xs):
        s = sorted(xs)
        m = len(s)
        return float(s[(m - 1) // 2]) if m % 2 else (s[m // 2 - 1] + s[m // 2]) / 2.0

    a = got[got.key == "a"].reset_index(drop=True)
    for i in range(len(base)):
        wnd = base[max(0, i - 4) : i + 1]
        med = py_med(wnd)
        mad = py_med([abs(x - med) for x in wnd])
        assert a.med[i] == med and a.mad[i] == mad, i
        assert bool(a.is_outlier[i]) == (abs(base[i] - med) > 3.0 * 1.4826 * mad), i
    assert bool(a.is_outlier[8]), "the 5000 spike must flag"
    assert a.is_outlier.sum() == 1, "neighbors of the spike must NOT flag"
    c = got[got.key == "c"]
    assert (c.mad == 0).all() and c.robust_z.isna().all()
    assert not c.is_outlier.any()


def test_seasonal_profile_robust_median_mode(spark):
    """robust=True swaps the phase mean for the exact median: a planted
    outlier day drags the mean profile but not the median one."""
    import datetime as dt

    from mtsad_spark.operators.stats import seasonal_profile_residual

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for day in range(5):
        for hour in (3, 9):
            v = 100 + hour
            if day == 4 and hour == 3:
                v = 100_000  # outlier day at phase 3
            rows.append(("k", t0 + dt.timedelta(days=day, hours=hour), v))
    df = spark.createDataFrame(rows, "key string, ts timestamp, v long")
    robust = (
        seasonal_profile_residual(df, ["key"], "ts", "v", "hour", robust=True)
        .toPandas().set_index(["ts"]).sort_index()
    )
    mean = (
        seasonal_profile_residual(df, ["key"], "ts", "v", "hour")
        .toPandas().set_index(["ts"]).sort_index()
    )
    p3_robust = robust[robust.phase == 3].profile.iloc[0]
    p3_mean = mean[mean.phase == 3].profile.iloc[0]
    assert p3_robust == 103.0  # median of [103,103,103,103,100000]
    assert p3_mean > 10_000    # mean dragged by the outlier
    assert (robust[robust.phase == 9].profile == 109.0).all()

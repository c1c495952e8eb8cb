"""Scoring path: rolling z-score vs pandas oracle, halo-slicer exactness,
sliced EWMA recursion vs pandas ewm, exact percentile vs numpy, sweep + P/R/F1, and
the dataset-level anomaly fixture (north rule): the scorers must recover the
injected anomaly windows of the MTS² wave (bounded-outcome assertions in the
style of /root/reference/tsbitmaps/test/test_tsbitmaps.py:38-54).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mtsad_spark.fixtures import mts2_wave, mts2_wave_df
from mtsad_spark.functions.metrics import prf
from mtsad_spark.operators.rollup import rollup_tiers
from mtsad_spark.operators.scoring import (
    _slice_with_halo,
    ewma_residual_chunked,
    percentile_threshold,
    sliding_zscore,
    threshold_sweep,
)


@pytest.fixture(scope="module")
def rollup_1m(seq_df):
    finalized, _ = rollup_tiers(seq_df, "ingest_ts", "n_tok", ["source"])
    return finalized["1m"].cache()


def _pandas_ewma(pdf, key, order, val, alpha):
    """(level, resid) of the adjust=False recursion per key, rows sorted by
    (key, order); a NaN residual is 0."""
    pdf = pdf.sort_values([key, order]).reset_index(drop=True)
    g = pdf.groupby(key, sort=False)[val]
    level = g.transform(lambda x: x.ewm(alpha=alpha, adjust=False).mean())
    prior = level.groupby(pdf[key]).shift(1)
    return level.to_numpy(), (pdf[val] - prior).fillna(0.0).to_numpy()


def _chunked_ewma(df, key, order, val, alpha, **kw):
    return (
        ewma_residual_chunked(df, [key], order, val, alpha=alpha, **kw)
        .select(key, order, "ewma_level", "resid")
        .toPandas()
        .sort_values([key, order])
        .reset_index(drop=True)
    )


def test_sliding_zscore_vs_pandas_oracle(spark, rollup_1m):
    w = 15
    got = (
        sliding_zscore(rollup_1m, ["source"], "bucket_ts", "mean", w=w, k=2.5)
        .select("source", "bucket_ts", "roll_mean", "roll_std", "score", "label")
        .toPandas()
        .sort_values(["source", "bucket_ts"])
        .reset_index(drop=True)
    )
    pdf = rollup_1m.select("source", "bucket_ts", "mean").toPandas()
    outs = []
    for src, g in pdf.groupby("source"):
        g = g.sort_values("bucket_ts")
        r = g["mean"].rolling(w)
        mu, sd = r.mean(), r.std(ddof=1)
        score = (g["mean"] - mu).abs() / sd
        outs.append(
            pd.DataFrame(
                {"source": src, "bucket_ts": g["bucket_ts"], "mu": mu, "sd": sd, "score": score}
            )
        )
    want = pd.concat(outs).sort_values(["source", "bucket_ts"]).reset_index(drop=True)
    assert len(got) == len(want)
    for a, b in (("roll_mean", "mu"), ("roll_std", "sd"), ("score", "score")):
        x, y = got[a].values, want[b].values
        nx, ny = np.isnan(x), np.isnan(y)
        assert (nx == ny).all(), a
        assert np.allclose(x[~nx], y[~ny], rtol=1e-9), a
    # labels: +1 iff score > k
    exp_label = np.where(np.nan_to_num(want["score"].values, nan=-1) > 2.5, 1, -1)
    assert (got["label"].values == exp_label).all()


def test_ewma_vs_pandas_and_chunked(spark, rollup_1m):
    """One slice per key (the default slice size) and many 40-row slices
    both reproduce the pandas recursion."""
    alpha = 0.15
    pdf = rollup_1m.select("source", "bucket_ts", "mean").toPandas()
    lv, rs = _pandas_ewma(pdf, "source", "bucket_ts", "mean", alpha)
    for kw in ({}, {"rows_per_slice": 40}):
        got = _chunked_ewma(rollup_1m, "source", "bucket_ts", "mean", alpha, **kw)
        assert len(got) == len(lv), kw
        assert np.allclose(got["ewma_level"].values, lv, rtol=1e-12), kw
        assert np.allclose(got["resid"].values, rs, rtol=1e-12, atol=1e-12), kw


@pytest.mark.parametrize("rps", [1000, 300])
def test_ewma_nan_residual_independent_of_slicing(spark, rps):
    """A NaN input's residual is 0.0 in every slice, as in the unsliced
    reference — not only in a key's first slice. NaNs sit in slices 0 and 2
    at rows_per_slice=300."""
    import datetime as dt

    from perfbench.reference import ewma_residual as ref_ewma

    rng = np.random.RandomState(5)
    v = rng.randn(1000).cumsum()
    v[[50, 650]] = np.nan
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i) for i in range(1000)]
    pdf = pd.DataFrame({"source": "s", "bucket_ts": ts, "mean": v})
    want = ref_ewma(pdf, 0.2)
    got = _chunked_ewma(
        spark.createDataFrame(pdf), "source", "bucket_ts", "mean", 0.2, rows_per_slice=rps
    )
    assert got["resid"].iloc[[50, 650]].tolist() == [0.0, 0.0]
    for c in ("ewma_level", "resid"):
        assert np.allclose(got[c], want[c], rtol=1e-9, atol=1e-12, equal_nan=True), c


def test_exact_percentile_vs_numpy(spark):
    rng = np.random.RandomState(3)
    vals = rng.randn(1013) * 7.5
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    for q in (0, 10, 37.5, 50, 90, 100):
        got = percentile_threshold(df, "v", q).collect()[0]["threshold"]
        want = np.percentile(vals, q)  # linear interpolation — same rule
        assert got == pytest.approx(want, rel=1e-12), q


def test_threshold_sweep_and_prf_vs_sklearn_semantics(spark):
    rng = np.random.RandomState(9)
    score = np.abs(rng.randn(2000))
    truth = np.where(score + rng.randn(2000) * 0.3 > 1.5, 1, -1)
    df = spark.createDataFrame(pd.DataFrame({"score": score, "truth": truth}))
    sweep = threshold_sweep(df, "score", "truth").toPandas()
    assert list(sweep["q"]) == list(range(0, 101, 10))
    # oracle per q — manual TP/FP/FN (reference lstm_model.py:310-343)
    for _, row in sweep.iterrows():
        th = np.percentile(score, row["q"])
        pred = np.where(score > th, 1, -1)
        tp = int(((pred == 1) & (truth == 1)).sum())
        fp = int(((pred == 1) & (truth != 1)).sum())
        fn = int(((pred != 1) & (truth == 1)).sum())
        p = tp / (tp + fp) if tp + fp else 0.0
        r = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        assert row["precision"] == pytest.approx(p, rel=1e-12)
        assert row["recall"] == pytest.approx(r, rel=1e-12)
        assert row["f1"] == pytest.approx(f1, rel=1e-12)

    pred_df = df.withColumn("pred", F.when(F.col("score") > 1.5, 1).otherwise(-1))
    m = prf(pred_df, "truth", "pred").collect()[0]
    pred = np.where(score > 1.5, 1, -1)
    assert m["tp"] == int(((pred == 1) & (truth == 1)).sum())
    assert m["tn"] == int(((pred == -1) & (truth == -1)).sum())


def test_anomaly_fixture_recovery(spark):
    """Dataset-level fixture (north rule): the reference's own sigma-rule
    pipeline (centered-MA residual + stationary σ,
    statistication/moving_average.py:43-63) over the MTS² wave recovers the
    injected anomaly windows — bounded-outcome style of
    tsbitmaps/test/test_tsbitmaps.py:50,54 plus a recall floor."""
    from mtsad_spark.operators.stats import sigma_rule_stationary

    pdf = mts2_wave(size=4000)
    df = mts2_wave_df(spark, size=4000).withColumn("series", F.lit("s0"))
    scored = sigma_rule_stationary(df, ["series"], "t", "v0", w=15, k=2.0)
    got = scored.select("t", "label").toPandas().sort_values("t").reset_index(drop=True)
    truth = pdf.sort_values("t")["tag"].values
    pred = got["label"].values
    tp = int(((pred == 1) & (truth == 1)).sum())
    fp = int(((pred == 1) & (truth == -1)).sum())
    n_anom = int((truth == 1).sum())
    assert tp > 0.3 * n_anom, f"recovered too few anomalies: {tp}/{n_anom}"
    assert fp < 0.02 * len(truth), f"too many false positives: {fp}"
    # every injected window must contain at least one fired point
    starts = [int(4000 * f) for f in (0.15, 0.5, 0.8)]
    win = int(round(4000 / 20))
    for s in starts:
        assert (pred[s : s + win] == 1).any(), f"window at {s} not detected"
    # EWMA scorer also fires inside the windows
    e = ewma_residual_chunked(df, ["series"], "t", "v0", alpha=0.3)
    th = percentile_threshold(e, "score", 95).collect()[0]["threshold"]
    epdf = e.select("t", "score").toPandas().sort_values("t").reset_index(drop=True)
    epred = np.where(epdf["score"].values > th, 1, -1)
    etp = int(((epred == 1) & (truth == 1)).sum())
    assert etp > 0.2 * n_anom


@pytest.mark.parametrize("w,rps", [(3, 5), (7, 7), (12, 4), (20, 100), (5, 1)])
def test_zscore_halo_agreement_config_sweep(spark, rollup_1m, w, rps):
    """Halo slicing must be exact for ANY (window, slice) combination,
    including slices smaller than the halo and slice length 1: a rolling
    z-score computed per slice over a (w-1)-row halo equals the JVM
    window-frame z-score."""
    a = (
        sliding_zscore(rollup_1m, ["source"], "bucket_ts", "mean", w=w)
        .select("source", "bucket_ts", "score")
        .toPandas()
        .sort_values(["source", "bucket_ts"])
        .reset_index(drop=True)
    )
    sliced = _slice_with_halo(rollup_1m, ["source"], "bucket_ts", rps, w - 1).select(
        "source", "bucket_ts", "mean", "_rn", "_slice", "_halo"
    ).toPandas()
    parts = []
    for _, g in sliced.groupby(["source", "_slice"]):
        g = g.sort_values("_rn")
        r = g["mean"].rolling(w, min_periods=w)
        mu, sd = r.mean(), r.std(ddof=1)
        parts.append(g.assign(score=((g["mean"] - mu).abs() / sd).where(sd > 0))[~g["_halo"]])
    b = pd.concat(parts).sort_values(["source", "bucket_ts"]).reset_index(drop=True)
    assert len(a) == len(b)
    na, nb = a["score"].isna().values, b["score"].isna().values
    assert (na == nb).all()
    assert np.allclose(a["score"].values[~na], b["score"].values[~nb], rtol=1e-9)


@pytest.mark.parametrize("alpha,rps", [(0.5, 3), (0.05, 17), (0.9, 1)])
def test_ewma_chunk_agreement_config_sweep(spark, rollup_1m, alpha, rps):
    """Slices shorter than the decay halo, and slices of one row."""
    pdf = rollup_1m.select("source", "bucket_ts", "mean").toPandas()
    lv, _ = _pandas_ewma(pdf, "source", "bucket_ts", "mean", alpha)
    got = _chunked_ewma(rollup_1m, "source", "bucket_ts", "mean", alpha, rows_per_slice=rps)
    assert len(got) == len(lv)
    assert np.allclose(got["ewma_level"].values, lv, rtol=1e-10)


def test_chunked_scorers_deterministic_across_parallelism(tmp_path):
    """VERDICT r01 #2 'Done' condition: the value-composed slicer's outputs
    are byte-identical at two parallelism levels (separate JVMs — getOrCreate
    would otherwise reuse one session). The probe imports the engine of the
    checkout this test file belongs to."""
    import subprocess
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    script = r"""
import sys, hashlib
sys.path.insert(0, sys.argv[3])
from mtsad_spark.session import get_spark
from mtsad_spark.fixtures import sequences
from mtsad_spark.operators.rollup import rollup_tiers
from mtsad_spark.operators.scoring import ewma_residual_chunked

master, shuffle = sys.argv[1], int(sys.argv[2])
spark = get_spark("det-probe", master=master, shuffle_partitions=shuffle,
                  extra_confs={"spark.sql.adaptive.enabled": "false"})
spark.sparkContext.setLogLevel("ERROR")
seq = sequences(spark, n_rows=8000, n_minutes=240, with_tokens=False)
r1m, _ = rollup_tiers(seq, "ingest_ts", "n_tok", ["source"])
base = r1m["1m"].select("source", "bucket_ts", "mean").cache()
e1 = ewma_residual_chunked(base, ["source"], "bucket_ts", "mean", alpha=0.2, rows_per_slice=40)
e2 = ewma_residual_chunked(base, ["source"], "bucket_ts", "mean", alpha=0.6, rows_per_slice=23)
h = hashlib.sha256()
for df, cols in ((e1, ["ewma_level", "resid"]), (e2, ["ewma_level", "resid"])):
    pdf = df.select("source", "bucket_ts", *cols).toPandas().sort_values(
        ["source", "bucket_ts"]).reset_index(drop=True)
    for c in cols:
        h.update(pdf[c].to_numpy(dtype="float64").tobytes())
print("HASH", h.hexdigest())
"""
    p = tmp_path / "det_probe.py"
    p.write_text(script)
    hashes = []
    for master, shuffle in (("local[2]", 2), ("local[4]", 8)):
        r = subprocess.run(
            [sys.executable, str(p), master, str(shuffle), root],
            capture_output=True, text=True, cwd=root, timeout=420,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        line = [l for l in r.stdout.splitlines() if l.startswith("HASH")][0]
        hashes.append(line.split()[1])
    assert hashes[0] == hashes[1], hashes


def test_percentile_threshold_approx_scale_path(spark):
    """exact=False is the documented raw-scale path: rank error bounded by
    1/accuracy vs the exact percentile."""
    rng = np.random.RandomState(13)
    vals = np.sort(rng.randn(50_000) * 10)
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    for q in (50, 90, 99):
        exact = percentile_threshold(df, "v", q).collect()[0]["threshold"]
        approx = percentile_threshold(df, "v", q, exact=False, accuracy=10_000).collect()[0]["threshold"]
        # value at a rank within ±n/accuracy of the true rank
        lo = vals[max(0, int(len(vals) * q / 100) - 3 - len(vals) // 10_000)]
        hi = vals[min(len(vals) - 1, int(len(vals) * q / 100) + 3 + len(vals) // 10_000)]
        assert lo <= approx <= hi, (q, exact, approx)


def test_halo_slicer_hot_key_many_coarse_buckets(spark):
    """One monster key spanning 90 hours (≈90 coarse count-buckets) with
    irregular gaps: the composed row numbering + halo slicing must still
    match the unsliced recursion — this is the shape where the round-1
    per-key row_number would have serialized."""
    rng = np.random.RandomState(31)
    n = 6000
    # irregular spine: drop ~12% of slots, jitter seconds
    base = np.arange(int(n * 1.15)) * 54
    keep = rng.rand(len(base)) > 0.12
    secs = np.sort(base[keep][:n])
    pdf = pd.DataFrame(
        {
            "k": "hot",
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(secs, unit="s"),
            "v": rng.randn(n).cumsum(),
        }
    )
    df = spark.createDataFrame(pdf).repartition(7)
    lv, rs = _pandas_ewma(pdf, "k", "ts", "v", 0.2)
    for rps in (231, 500):
        c = _chunked_ewma(df, "k", "ts", "v", 0.2, rows_per_slice=rps)
        assert len(c) == n
        assert np.allclose(c["ewma_level"].values, lv, rtol=1e-10), rps
        assert np.allclose(c["resid"].values, rs, rtol=1e-9, atol=1e-9), rps


def test_cusum_closed_form_vs_loop_oracle(spark):
    """cusum_scores' window closed form S_i = C_i - min(0, min C_j) must
    equal the sequential Page recurrence exactly (integer inputs)."""
    from mtsad_spark.operators.scoring import cusum_scores

    rng = np.random.default_rng(7)
    rows = []
    for key in ("a", "b"):
        x = rng.integers(-5, 9, size=200)
        x[120:160] += 6  # injected persistent upward shift
        for i, v in enumerate(x):
            rows.append((key, i, int(v)))
    df = spark.createDataFrame(rows, "key string, t int, x long")
    got = (
        cusum_scores(df, ["key"], "t", "x", k=2, h=30)
        .select("key", "t", "cusum_up", "cusum_dn", "alarm")
        .toPandas()
        .sort_values(["key", "t"])
        .reset_index(drop=True)
    )
    exp_rows = []
    for key in ("a", "b"):
        xs = [r[2] for r in rows if r[0] == key]
        up = dn = 0
        for i, v in enumerate(xs):
            up = max(0, up + (v - 2))
            dn = max(0, dn + (2 - v))
            exp_rows.append((key, i, up, dn, up > 30 or dn > 30))
    exp = pd.DataFrame(exp_rows, columns=["key", "t", "cusum_up", "cusum_dn", "alarm"])
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # the injected shift must actually raise an alarm, and only on key-local state
    assert got[(got.key == "a") & (got.t >= 120) & (got.t < 160)].alarm.any()


def test_cusum_default_k_is_per_key_mean(spark):
    from mtsad_spark.operators.scoring import cusum_scores

    df = spark.createDataFrame(
        [("a", 0, 10), ("a", 1, 20), ("a", 2, 30), ("b", 0, 100), ("b", 1, 200)],
        "key string, t int, x long",
    )
    got = cusum_scores(df, ["key"], "t", "x").toPandas().sort_values(["key", "t"])
    # key a: k=20 → deviations -10,0,10 → up: 0,0,10 ; dn: 10,10,0
    a = got[got.key == "a"]
    assert list(a.cusum_up) == [0, 0, 10] and list(a.cusum_dn) == [10, 10, 0]
    b = got[got.key == "b"]  # k=150 → up: 0,50 ; dn: 50,0
    assert list(b.cusum_up) == [0, 50] and list(b.cusum_dn) == [50, 0]


def test_cusum_default_k_keeps_integer_algebra(spark):
    """code-review r6: the default k must be the exact BIGINT floor-mean
    (sum div count) for integer inputs, not F.avg — a double k voids the
    function's own exact-when-integers contract on its default path."""
    from mtsad_spark.operators.scoring import cusum_scores

    df = spark.createDataFrame(
        [("c", 0, 1), ("c", 1, 2)], "key string, t int, x long"
    )
    got = cusum_scores(df, ["key"], "t", "x")
    types = dict(got.dtypes)
    assert types["cusum_up"] == "bigint" and types["cusum_dn"] == "bigint", (
        "default-k path must stay integer algebra, got %s" % types
    )
    pdf = got.toPandas().sort_values("t")
    # k = 3 div 2 = 1 → dev +: 0,1 → up 0,1 ; dev -: 0,-1 → dn 0,0
    assert list(pdf.cusum_up) == [0, 1] and list(pdf.cusum_dn) == [0, 0]


def test_time_weighted_avg_vs_numpy_trapezoid(spark):
    """Irregular spacing: twa must weigh values by hold time (trapezoid),
    diverging from the plain mean; numerator/denominator exact BIGINTs."""
    import datetime as dt

    from mtsad_spark.operators.stats import fit_join  # noqa: F401  (import path sanity)
    from mtsad_spark.operators.scoring import time_weighted_avg

    t0 = dt.datetime(2024, 1, 1)
    pts = [(0, 100), (3540, 100), (3600, 400), (3660, 400)]  # holds 59 min @100, brief spike @400
    rows = [("s", t0 + dt.timedelta(seconds=s), v) for s, v in pts]
    df = spark.createDataFrame(rows, "key string, ts timestamp, cents long")
    got = time_weighted_avg(df, ["key"], "ts", "cents", bucket="day").toPandas()
    assert len(got) == 1
    num = sum((pts[i][1] + pts[i + 1][1]) * (pts[i + 1][0] - pts[i][0]) for i in range(3))
    den = pts[-1][0] - pts[0][0]
    assert got.twa_num[0] == num and got.twa_den_sec[0] == den
    assert got.twa[0] == num / (2 * den)
    plain_mean = sum(v for _, v in pts) / 4
    assert abs(got.twa[0] - plain_mean) > 1  # trapezoid ≠ plain mean on irregular spacing

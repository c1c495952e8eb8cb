"""ts-bitmap scorer (bounded-outcome style of the reference's own suite,
/root/reference/tsbitmaps/test/test_tsbitmaps.py) and signal kernels."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mtsad_spark.fixtures import mts2_wave
from mtsad_spark.functions.signal import epsilon_by_f1, fft_bandstop_residual, hp_residual_mad
from mtsad_spark.functions.tsbitmap import (
    _chunk_bitmap,
    _counted_pattern,
    _ngram_codes,
    _sax_symbols,
    bitmap_distance_join,
    bitmap_grid_scores,
    bitmap_scores,
    bitmap_scores_series,
    ngram_bitmap,
    sax_symbols_df,
)


# ------------------------------------------------------ kernel unit checks


def test_sax_symbols_alphabet_and_length():
    """Mirror of reference test: discretize preserves length and emits the
    full alphabet on random input (test_tsbitmaps.py:19-23)."""
    rng = np.random.RandomState(0)
    x = rng.rand(500)
    sym = _sax_symbols(x, fw=100, n_bins=5)
    assert len(sym) == 500
    assert set(sym.tolist()) == {0, 1, 2, 3, 4}


def test_ngram_counts_hand_written():
    """Hand-written symbol sequence: n-gram counts + max-normalization
    (mirror of test_tsbitmaps.py:25-31)."""
    sym = np.array([0, 0, 1, 0, 0, 1])
    base = 5 + 2
    codes = _ngram_codes(sym, level=2, base=base)
    # bigrams: 00 01 10 00 01 → counts {00:2, 01:2, 10:1} → normalized by 2
    bm = _chunk_bitmap(codes, 0, 6, fw=6, level=2, space=base**2)
    c00 = bm[(0 + 1) * base + (0 + 1)]
    c01 = bm[(0 + 1) * base + (1 + 1)]
    c10 = bm[(1 + 1) * base + (0 + 1)]
    assert c00 == 1.0 and c01 == 1.0 and c10 == 0.5
    assert bm.sum() == pytest.approx(2.5)


def test_feat_window_excludes_cross_window_ngrams():
    """Mirror of test_tsbitmaps.py:32-36: no n-gram spans a feature-window
    boundary."""
    sym = np.array([0, 0, 0, 1, 1, 1])
    base = 7
    codes = _ngram_codes(sym, level=3, base=base)
    bm = _chunk_bitmap(codes, 0, 6, fw=3, level=3, space=base**3)
    # windows [000] and [111] → only those two trigrams, never 001/011
    nz = np.nonzero(bm)[0]
    enc = lambda a, b, c: ((a + 1) * base + (b + 1)) * base + (c + 1)  # noqa: E731
    assert set(nz.tolist()) == {enc(0, 0, 0), enc(1, 1, 1)}


def test_bitmap_rejects_feature_window_shorter_than_ngram():
    """ADVICE r02: fw < level would wrap the counted-slice stop negative and
    silently diverge the incremental path from the recount path — the
    degenerate config must raise, at the kernel AND at plan time."""
    import pytest

    from mtsad_spark.functions.tsbitmap import _chunk_bitmap, _counted_pattern, bitmap_scores_series

    with pytest.raises(ValueError, match="must be >= level_size"):
        _counted_pattern(100, 1, 3)
    with pytest.raises(ValueError, match="must be >= level_size"):
        _chunk_bitmap(np.zeros(50, dtype=np.int64), 0, 50, 2, 3, 216)
    with pytest.raises(ValueError, match="must be >= level_size"):
        bitmap_scores_series(np.sin(np.arange(600) / 10), 2, 5, 3, 200, 100)


def test_bitmap_scores_bounded_outcome_random():
    """fit_predict on random data: anomaly count bounded (mirror of
    test_tsbitmaps.py:38-42 asserting 0 < n ≤ 25 on 500 random points)."""
    rng = np.random.RandomState(7)
    x = rng.rand(500)
    scores, labels = bitmap_scores_series(
        x, feature_window_size=50, bins=5, level_size=3,
        lag_window_size=100, lead_window_size=50, q=99,
    )
    n_anom = int((labels == 1).sum())
    assert 0 < n_anom <= 25
    assert (scores[:100] == 0).all()  # cold-start prefix is zero


def test_bitmap_scores_detects_wave_anomalies(spark):
    pdf = mts2_wave(size=2000)
    df = spark.createDataFrame(pdf).withColumn("series", F.lit("s"))
    out = (
        bitmap_scores(
            df, ["series"], "t", "v0",
            feature_window_size=20, bins=5, level_size=3,
            lag_window_size=100, lead_window_size=40, q=98,
        )
        .orderBy("t")
        .toPandas()
    )
    truth = pdf.sort_values("t")["tag"].values
    pred = out["label"].values
    tp = int(((pred == 1) & (truth == 1)).sum())
    assert tp > 0  # fires inside injected windows
    # matches the kernel run directly (Spark wrapper adds nothing)
    s2, l2 = bitmap_scores_series(
        pdf.sort_values("t")["v0"].values, 20, 5, 3, 100, 40, 98
    )
    assert np.allclose(out["score"].values, s2)
    assert (pred == l2).all()


def test_distributed_bitmap_algebra(spark):
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 300 + ["b"] * 300,
            "idx": list(range(300)) * 2,
            "v": np.r_[rng.rand(300), rng.rand(300) * 2 + 1],
        }
    )
    df = spark.createDataFrame(pdf)
    sym = sax_symbols_df(df, ["k"], "idx", "v", feature_window_size=50, bins=5)
    got = sym.filter("k='a'").orderBy("idx").toPandas()["symbol"].values
    assert set(got.tolist()) <= {0, 1, 2, 3, 4}
    bm = ngram_bitmap(sym, ["k"], "idx", level=3)
    mx = bm.groupBy("k").agg(F.max("freq").alias("m")).toPandas()
    assert np.allclose(mx["m"].values, 1.0)  # max-normalized
    bma = bm.filter("k='a'").drop("k").withColumn("g", F.lit(1))
    bmb = bm.filter("k='b'").drop("k").withColumn("g", F.lit(1))
    d = bitmap_distance_join(bma, bmb, ["g"]).collect()[0]["distance"]
    assert d > 0
    dd = bitmap_distance_join(bma, bma, ["g"]).collect()[0]["distance"]
    assert dd == 0.0
    # exact-integer form: Σ(ca·Mb − cb·Ma)²/(Ma·Mb)² must equal the float
    # form computed from the max-normalized bitmaps (same full-outer union)
    from mtsad_spark.functions.tsbitmap import bitmap_distance_join_exact

    ca = ngram_bitmap(sym, ["k"], "idx", level=3, normalize=False)
    cnt_a = ca.filter("k='a'").drop("k").withColumn("g", F.lit(1))
    cnt_b = ca.filter("k='b'").drop("k").withColumn("g", F.lit(1))
    ex = bitmap_distance_join_exact(cnt_a, cnt_b, ["g"]).collect()[0]
    assert ex["dist_num"] > 0 and ex["ma"] > 0 and ex["mb"] > 0
    assert np.isclose(ex["distance"], d, rtol=1e-12)
    exx = bitmap_distance_join_exact(cnt_a, cnt_a, ["g"]).collect()[0]
    assert exx["dist_num"] == 0 and exx["distance"] == 0.0


def _np_grid_scores(vals, fw, bins, level, lag, lead):
    """Independent numpy mirror of bitmap_grid_scores' EXACT semantics:
    floor-SAX per feature window (global min/max fallback), counted-pattern
    integer counts, score_num = Σ(ca·Mb − cb·Ma)², one final division."""
    vals = np.asarray(vals, dtype=np.float64)
    n = len(vals)
    gmin, gmax = vals.min(), vals.max()
    sym = np.empty(n, dtype=np.int64)
    for s in range(0, n, fw):
        w = vals[s : s + fw]
        lo, hi = w.min(), w.max()
        if lo == hi:
            lo, hi = gmin, gmax
        step = (hi - lo) / bins
        if step == 0:
            sym[s : s + fw] = 0
        else:
            sym[s : s + fw] = np.minimum(
                np.floor((w - lo) / step), bins - 1
            ).astype(np.int64)
    base = bins + 2
    space = base**level
    codes = _ngram_codes(sym, level, base)
    lag_pos, _, _ = _counted_pattern(lag, fw, level)
    lead_pos, _, _ = _counted_pattern(lead, fw, level)
    out = {}
    for i in range(lag, n - lead + 1):
        a = np.bincount(codes[i - lag + lag_pos], minlength=space).astype(np.int64)
        b = np.bincount(codes[i + lead_pos], minlength=space).astype(np.int64)
        ma, mb = int(a.max()), int(b.max())
        num = int(((a * mb - b * ma) ** 2).sum())
        out[i] = (num, ma, mb, num / float((ma * mb) * (ma * mb)))
    return out


def test_bitmap_grid_scores_matches_numpy_mirror(spark):
    """Golden: the distributed grid scorer is integer-exact vs an independent
    numpy mirror, per key, and its float score (one division on exact ints)
    matches bitwise."""
    fw, bins, level, lag, lead = 20, 5, 3, 80, 40
    rng = np.random.RandomState(7)
    series = {
        "a": np.round(rng.rand(300) * 40, 2),
        "b": np.round(np.sin(np.arange(280) / 9.0) * 10 + rng.rand(280), 2),
    }
    pdf = pd.DataFrame(
        {
            "k": np.r_[["a"] * 300, ["b"] * 280],
            "idx": np.r_[np.arange(300), np.arange(280)].astype(float),
            "v": np.r_[series["a"], series["b"]],
        }
    )
    got = (
        bitmap_grid_scores(
            spark.createDataFrame(pdf), ["k"], "idx", "v", fw, bins, level, lag, lead
        )
        .orderBy("k", "pos")
        .toPandas()
    )
    for k, vals in series.items():
        want = _np_grid_scores(vals, fw, bins, level, lag, lead)
        sub = got[got["k"] == k]
        assert list(sub["pos"]) == sorted(want)
        for _, r in sub.iterrows():
            num, ma, mb, score = want[r["pos"]]
            assert (r["score_num"], r["ma"], r["mb"]) == (num, ma, mb)
            assert r["score"] == score  # single division on identical ints


def test_bitmap_grid_scores_tail_windows_match_mirror(spark):
    """Tail branch: when the feature window does not divide the chunk sizes
    (fw=7, lag=30, lead=20 → both chunks end in a partial window), the
    counted-offset pattern includes the tail run and the Spark grid stays
    integer-exact vs the mirror."""
    fw, bins, level, lag, lead = 7, 4, 2, 30, 20
    rng = np.random.RandomState(23)
    vals = np.round(rng.rand(140) * 25, 2)
    want = _np_grid_scores(vals, fw, bins, level, lag, lead)
    pdf = pd.DataFrame({"k": "t", "idx": np.arange(140, dtype=float), "v": vals})
    got = (
        bitmap_grid_scores(
            spark.createDataFrame(pdf), ["k"], "idx", "v", fw, bins, level, lag, lead
        )
        .orderBy("pos")
        .toPandas()
    )
    assert list(got["pos"]) == sorted(want)
    for _, r in got.iterrows():
        num, ma, mb, score = want[r["pos"]]
        assert (r["score_num"], r["ma"], r["mb"]) == (num, ma, mb)
        assert r["score"] == score


def test_bitmap_grid_scores_consistent_with_kernel(spark):
    """When floor-SAX and np.digitize-SAX agree on the data (integer-valued
    series — no bin-edge ulp ambiguity), the grid score equals the kernel's
    normalized float score to ~1e-12 on every interior position."""
    fw, bins, level, lag, lead = 20, 5, 3, 80, 40
    rng = np.random.RandomState(11)
    vals = rng.randint(0, 50, size=260).astype(np.float64)
    # precondition: both SAX variants agree on this data
    ker_sym = _sax_symbols(vals, fw, bins)
    mirror = _np_grid_scores(vals, fw, bins, level, lag, lead)
    gmin, gmax = vals.min(), vals.max()
    flo_sym = np.empty(len(vals), dtype=np.int64)
    for s in range(0, len(vals), fw):
        w = vals[s : s + fw]
        lo, hi = w.min(), w.max()
        if lo == hi:
            lo, hi = gmin, gmax
        step = (hi - lo) / bins
        flo_sym[s : s + fw] = np.minimum(np.floor((w - lo) / step), bins - 1)
    assert (ker_sym == flo_sym).all(), "fixture must avoid bin-edge ambiguity"
    kscores, _ = bitmap_scores_series(vals, fw, bins, level, lag, lead, q=99)
    pdf = pd.DataFrame({"k": "x", "idx": np.arange(len(vals), dtype=float), "v": vals})
    got = (
        bitmap_grid_scores(
            spark.createDataFrame(pdf), ["k"], "idx", "v", fw, bins, level, lag, lead
        )
        .orderBy("pos")
        .toPandas()
    )
    assert list(got["pos"]) == list(range(lag, len(vals) - lead + 1))
    for _, r in got.iterrows():
        assert r["score"] == pytest.approx(kscores[r["pos"]], abs=1e-12)
        assert (r["score_num"], r["ma"], r["mb"]) == mirror[r["pos"]][:3]


# ----------------------------------------------------------- signal kernels


def test_fft_bandstop_vs_numpy(spark):
    pdf = mts2_wave(size=1024)
    df = spark.createDataFrame(pdf).withColumn("series", F.lit("s"))
    out = fft_bandstop_residual(df, ["series"], "t", "v0", low_cut=0.04).orderBy("t").toPandas()
    v = pdf.sort_values("t")["v0"].values
    spec = np.fft.fft(v)
    freq = np.fft.fftfreq(len(v))
    spec[np.abs(freq) < 0.04] = 0
    want = np.real(np.fft.ifft(spec))
    assert np.allclose(out["resid"].values, want, atol=1e-9)


def test_hp_residual_detects_anomalies(spark):
    pdf = mts2_wave(size=600)
    df = spark.createDataFrame(pdf).withColumn("series", F.lit("s"))
    out = hp_residual_mad(df, ["series"], "t", "v0", lamb=1600, k=3.0).orderBy("t").toPandas()
    truth = pdf.sort_values("t")["tag"].values
    pred = out["label"].values
    # trend + residual reconstruct the signal
    assert np.allclose(out["trend"].values + out["resid"].values,
                       pdf.sort_values("t")["v0"].values, atol=1e-8)
    assert ((pred == 1) & (truth == 1)).sum() > 0


def test_epsilon_by_f1(spark):
    rng = np.random.RandomState(4)
    dens = np.r_[rng.rand(900) * 0.9 + 0.1, rng.rand(100) * 0.05]
    truth = np.r_[np.full(900, -1), np.full(100, 1)]
    df = spark.createDataFrame(pd.DataFrame({"density": dens, "tag": truth}))
    row = epsilon_by_f1(df, "density", "tag", n_steps=200).collect()[0]
    assert row["f1"] > 0.9
    assert 0.05 <= row["epsilon"] <= 0.15


def test_epsilon_by_f1_compiles_without_codegen_fallback(spark):
    """The bin corrections must stay staged, one select each: nested,
    their copies of the bin expression grow the generated hash-aggregate
    method past janino's 64 KB limit, and whole-stage codegen fails to
    compile. With the codegen fallback off that failure raises instead of
    running the stage interpreted."""
    rng = np.random.RandomState(4)
    dens = np.r_[rng.rand(900) * 0.9 + 0.1, rng.rand(100) * 0.05]
    truth = np.r_[np.full(900, -1), np.full(100, 1)]
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"] * 500, "density": dens, "tag": truth})
    )
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = epsilon_by_f1(df, "density", "tag", n_steps=200, keys=["k"]).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert len(rows) == 2 and all(r["f1"] > 0.9 for r in rows)


def test_epsilon_by_f1_binned_matches_join_form(spark):
    """The r7 bin+prefix-sum sweep must reproduce the original
    join-every-row-to-every-step semantics EXACTLY — per-step confusion
    counts decided by the same float predicate ``d < lo + i·step`` — on
    normal data, on densities sitting exactly on the step grid (the float
    boundary the bin estimate must not mis-assign), and in the degenerate
    all-equal-density case (every step collapses to one float epsilon)."""
    from pyspark.sql import functions as F

    from mtsad_spark.functions.metrics import with_prf_columns

    def join_form(df, n_steps, keys):
        bounds = df.groupBy(*keys).agg(
            F.min("density").alias("_lo"), F.max("density").alias("_hi")
        )
        steps = bounds.select(
            *keys,
            F.explode(F.sequence(F.lit(1), F.lit(n_steps))).alias("_i"),
            ((F.col("_hi") - F.col("_lo")) / n_steps).alias("_step"),
            F.col("_lo"),
        ).select(*keys, (F.col("_lo") + F.col("_i") * F.col("_step")).alias("epsilon"))
        joined = df.join(F.broadcast(steps), keys, "inner")
        pred = F.col("density") < F.col("epsilon")
        truth = F.col("tag") == 1
        agg = joined.groupBy(*keys, "epsilon").agg(
            F.sum((pred & truth).cast("long")).alias("tp"),
            F.sum((pred & ~truth).cast("long")).alias("fp"),
            F.sum((~pred & truth).cast("long")).alias("fn"),
        )
        scored = with_prf_columns(agg)
        return scored.groupBy(*keys).agg(
            F.max_by(
                "epsilon", F.struct(F.col("f1"), (-F.col("epsilon")).alias("_ne"))
            ).alias("epsilon"),
            F.max("f1").alias("f1"),
        )

    rng = np.random.RandomState(11)
    n = 40
    grid = 0.0 + np.arange(1, n + 1) * (1.0 / n)  # exactly on the step grid
    pdf = pd.concat(
        [
            pd.DataFrame(
                {
                    "k": "norm",
                    "density": np.round(np.abs(rng.randn(2000)) / 3, 6),
                    "tag": rng.choice([1, -1], 2000),
                }
            ),
            pd.DataFrame({"k": "deg", "density": [0.5] * 60, "tag": [1, -1] * 30}),
            pd.DataFrame(
                {
                    "k": "grid",
                    "density": np.r_[grid, 0.0, 1.0],
                    "tag": rng.choice([1, -1], n + 2),
                }
            ),
        ]
    )
    df = spark.createDataFrame(pdf)
    for ns in (40, 150):
        want = sorted(map(tuple, join_form(df, ns, ["k"]).collect()))
        got = sorted(
            map(tuple, epsilon_by_f1(df, "density", "tag", n_steps=ns, keys=["k"]).collect())
        )
        assert got == want, ns


def test_bitmap_supervised_predict(spark):
    """fit on a clean wave, predict on an anomalous one: supervised mirror of
    test_tsbitmaps.py:56-66 bounded-outcome style."""
    from mtsad_spark.functions.tsbitmap import bitmap_scores_supervised

    clean = mts2_wave(size=1500, seed=7)
    clean = clean[clean["tag"] == -1]  # train on normal-only (P3 semantics)
    anom = mts2_wave(size=1500)
    train = spark.createDataFrame(clean.assign(series="s")[["series", "t", "v0"]])
    test = spark.createDataFrame(anom.assign(series="s")[["series", "t", "v0"]])
    out = (
        bitmap_scores_supervised(
            test, train, ["series"], "t", "v0",
            feature_window_size=20, bins=5, level_size=3, lead_window_size=50, q=98,
        )
        .orderBy("t")
        .toPandas()
    )
    truth = anom.sort_values("t")["tag"].values
    pred = out["label"].values
    n_flag = int((pred == 1).sum())
    assert 0 < n_flag <= 0.1 * len(pred)
    assert ((pred == 1) & (truth == 1)).sum() > 0


def test_hp_banded_solve_matches_dense_oracle():
    """The O(n) pentadiagonal LDLᵀ solve must equal the dense solve the
    round-1 code used (which the reference's spdiags solve also equals)."""
    from mtsad_spark.functions.signal import _hp_filter

    rng = np.random.RandomState(11)
    for n, lamb in ((3, 10.0), (4, 1600.0), (50, 1600.0), (400, 129600.0)):
        y = rng.randn(n).cumsum() + np.sin(np.arange(n) / 7.0)
        D = np.zeros((n - 2, n))
        for i in range(n - 2):
            D[i, i], D[i, i + 1], D[i, i + 2] = 1.0, -2.0, 1.0
        want = np.linalg.solve(np.eye(n) + lamb * (D.T @ D), y)
        got = _hp_filter(y, lamb)
        assert np.allclose(got, want, rtol=1e-9, atol=1e-9), (n, lamb)


def test_hp_banded_solve_runs_at_100k_points():
    """A 100k-point series the dense form cannot touch (80 GB of matrix):
    verify the banded solution satisfies A·t = y by banded matvec."""
    from mtsad_spark.functions.signal import _hp_filter

    rng = np.random.RandomState(12)
    n, lamb = 100_000, 1600.0
    y = np.sin(np.arange(n) * 0.01) + rng.randn(n) * 0.1
    t = _hp_filter(y, lamb)
    # banded A·t: t + λ·DᵀD·t where DᵀD·t = D2ᵀ(D2·t), D2 = 2nd difference
    d2t = t[:-2] - 2 * t[1:-1] + t[2:]
    dtd = np.zeros(n)
    dtd[:-2] += d2t
    dtd[1:-1] += -2 * d2t
    dtd[2:] += d2t
    assert np.allclose(t + lamb * dtd, y, rtol=1e-7, atol=1e-7)
    # trend is smooth: residual variance well below signal variance
    assert (y - t).std() < y.std()


def test_incremental_bitmap_counts_match_full_recount():
    """The O(1)-ish sliding count maintenance must be bitwise-identical to
    recomputing each chunk's bitmap from scratch (paper semantics kept)."""
    from mtsad_spark.functions.tsbitmap import (
        _chunk_bitmap,
        _ngram_codes,
        _sax_symbols,
        bitmap_scores_series,
    )

    rng = np.random.RandomState(7)
    for n, fw, bins, level, lagw, leadw in (
        (400, 20, 5, 3, 96, 48),
        (300, 24, 4, 2, 50, 53),   # tail shorter than level on one side
        (250, 16, 6, 1, 40, 30),   # level=1: contiguous pattern, merged runs
        (222, 30, 3, 3, 61, 37),   # ragged sizes
    ):
        vals = rng.randn(n).cumsum()
        got, _ = bitmap_scores_series(vals, fw, bins, level, lagw, leadw, q=99)
        sym = _sax_symbols(vals.astype(np.float64), fw, bins)
        base = bins + 2
        space = base**level
        codes = _ngram_codes(sym, level, base)
        want = np.zeros(n)
        for i in range(lagw, n - leadw + 1):
            bl = _chunk_bitmap(codes, i - lagw, lagw, fw, level, space)
            bf = _chunk_bitmap(codes, i, leadw, fw, level, space)
            d = bl - bf
            want[i] = float(d @ d)
        assert (got == want).all(), (n, fw, bins, level, lagw, leadw)


def test_supervised_bitmap_train_binning_is_global_window():
    """Reference fit parity (ADVICE r01): fit discretizes the WHOLE train
    series with one global min/max window (tsbitmapper.py:286 discretize),
    not per-feature-window. A train series whose windows have wildly
    different local ranges makes the two binnings diverge — the reference
    bitmap must come from the global binning."""
    from mtsad_spark.functions.tsbitmap import (
        _chunk_bitmap,
        _ngram_codes,
        _sax_symbols,
        bitmap_scores_supervised_series,
    )

    rng = np.random.RandomState(8)
    # first half tiny amplitude, second half huge: per-window binning would
    # spread both halves over all bins; global binning pins half 1 low
    train = np.r_[rng.rand(100) * 0.01, rng.rand(100) * 100 + 50]
    test = rng.rand(150) * 100
    fw, bins, level, leadw = 25, 5, 3, 40
    scores, _ = bitmap_scores_supervised_series(train, test, fw, bins, level, leadw, q=95)
    base = bins + 2
    space = base**level
    # oracle: global-window train binning + feature-window counting
    tr_sym = _sax_symbols(train.astype(np.float64), len(train), bins)
    ref = _chunk_bitmap(_ngram_codes(tr_sym, level, base), 0, len(tr_sym), fw, level, space)
    te_sym = _sax_symbols(test.astype(np.float64), fw, bins)
    te_codes = _ngram_codes(te_sym, level, base)
    want = np.zeros(len(test))
    for i in range(1, len(test) - leadw + 1):
        bf = _chunk_bitmap(te_codes, i, leadw, fw, level, space)
        d = ref - bf
        want[i] = float(d @ d)
    assert (scores == want).all()

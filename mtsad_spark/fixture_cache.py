"""Shared-parquet fixture cache for driver-contract oracle queries.

The driver compares each Spark query against DuckDB oracle SQL. Queries over
the north-star tokenized-sequences shape (BASELINE.json input_hint) used to
synthesize their input INSIDE Spark (fixtures.sequences), which DuckDB cannot
see — leaving them `no_oracle`. This module materializes a deterministic
sequences table ONCE as plain parquet (numpy + pyarrow, no Spark needed), so
BOTH engines read the identical bytes and the queries become fully oracled.

Generation is lazy (first access of queries()/oracle_sql() triggers it) and
atomic (write to tmp + rename), so whichever side the driver evaluates first
finds the file. Content is a pure function of (N_ROWS, N_MINUTES, SEED).
"""

from __future__ import annotations

import os

import numpy as np

CACHE_DIR = "/root/repo/.fixture_cache"
SEQFIX_PATH = f"{CACHE_DIR}/seqfix.parquet"
ARFF_PATH = f"{CACHE_DIR}/eeg_fixture.arff"
ARFF_ORACLE_PATH = f"{CACHE_DIR}/eeg_fixture_expected.parquet"

N_ROWS = 20_000
N_MINUTES = 240
SEED = 4242
VOCAB = 50_257
EPOCH_S = 1_704_067_200  # 2024-01-01 00:00:00 UTC
SOURCES = ["web", "books", "code", "wiki", "forums"]
SOURCE_P = [0.60, 0.15, 0.10, 0.10, 0.05]  # web-heavy skew


def ensure_seqfix() -> str:
    """Write the tokenized-sequences fixture parquet if absent; return path."""
    if os.path.exists(SEQFIX_PATH):
        return SEQFIX_PATH
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(SEED)
    n = N_ROWS
    source = rng.choice(np.array(SOURCES, dtype=object), size=n, p=SOURCE_P)
    n_tok = (32 + rng.randint(0, 480, size=n)).astype(np.int32)
    spike = (source == "web") & (rng.randint(0, 100, size=n) == 0)
    n_tok = np.where(spike, n_tok * 4, n_tok).astype(np.int32)
    minute = (np.arange(n, dtype=np.int64) % N_MINUTES)
    # deterministic gaps: 'code' rows on minutes m % 7 == 3 shift to m + 1
    gap = (source == "code") & (minute % 7 == 3)
    minute = np.where(gap, minute + 1, minute)
    jitter = rng.randint(0, 60, size=n).astype(np.int64)
    ingest_us = (EPOCH_S + minute * 60 + jitter) * 1_000_000
    doc_id = np.array([f"doc-{i:010d}" for i in range(n)], dtype=object)
    flat = rng.randint(0, VOCAB, size=int(n_tok.sum()), dtype=np.int64).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat, type=pa.int32()))
    table = pa.table(
        {
            "doc_id": pa.array(doc_id, type=pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(n_tok, type=pa.int32()),
            "source": pa.array(source, type=pa.string()),
            "ingest_ts": pa.array(ingest_us, type=pa.timestamp("us")),
        }
    )
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{SEQFIX_PATH}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, SEQFIX_PATH)
    return SEQFIX_PATH


def ensure_arff_fixture() -> tuple[str, str]:
    """Write (a) a deterministic EEG-style ARFF file and (b) the EXPECTED
    MTS² parquet computed by an INDEPENDENT pandas re-implementation of the
    reference's arff_to_mtss_df (eeg_eye_state.py:169-193): float features,
    last nominal attr → int tag, non-anomaly → -1, positional index t.
    The driver then cross-checks sources/arff_reader.arff_to_mts2 (a separate
    parser + Spark code path) against these bytes."""
    if os.path.exists(ARFF_PATH) and os.path.exists(ARFF_ORACLE_PATH):
        return ARFF_PATH, ARFF_ORACLE_PATH
    import pandas as pd

    rng = np.random.RandomState(777)
    n = 400
    cols = {f"AF{i}": np.round(4000 + rng.randn(n) * 35, 2) for i in range(1, 5)}
    tag_raw = (rng.rand(n) < 0.3).astype(int)
    lines = ["@RELATION eeg_fixture"]
    for c in cols:
        lines.append(f"@ATTRIBUTE {c} NUMERIC")
    lines.append("@ATTRIBUTE eyeDetection {0,1}")
    lines.append("@DATA")
    for i in range(n):
        lines.append(
            ",".join(f"{cols[c][i]:.2f}" for c in cols) + f",{tag_raw[i]}"
        )
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{ARFF_PATH}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, ARFF_PATH)
    # independent expected frame: parse our own text the way pandas would
    data = np.array(
        [ln.split(",") for ln in lines[7:]], dtype=np.float64
    )  # reference: np.array(dataset['data'], dtype=float)
    pdf = pd.DataFrame(data, columns=[*cols.keys(), "tag"])
    pdf["tag"] = pdf["tag"].astype(np.int64)
    pdf.loc[pdf["tag"] != 1, "tag"] = -1
    pdf.insert(0, "t", np.arange(n, dtype=np.int64))
    tmp = f"{ARFF_ORACLE_PATH}.tmp.{os.getpid()}"
    pdf.to_parquet(tmp)
    os.replace(tmp, ARFF_ORACLE_PATH)
    return ARFF_PATH, ARFF_ORACLE_PATH


PCA_FIX_PATH = f"{CACHE_DIR}/pca_fixture.parquet"
PCA_COMP_PATH = f"{CACHE_DIR}/pca_components.parquet"


def ensure_pca_fixture() -> tuple[str, str]:
    """Deterministic 4-column correlated-gaussian frame plus the EXPECTED
    first principal component computed INDEPENDENTLY in numpy:
    population-std z-norm → covariance → eigh → top eigenvector, sign pinned
    so the largest-|loading| is positive — the same convention
    reduce_dims.pca_to_uts applies to Spark ML's PCA. The mixing matrix is
    chosen so the top two eigenvalues are well separated (gap ≫ 1), making
    the eigenvector stable: Spark and numpy solve the same symmetric 4×4
    problem from covariance matrices that differ only in summation order
    (~1e-15), so loadings agree to ~1e-13 — far inside the round-to-6
    comparison the oracle applies to the projection."""
    if os.path.exists(PCA_FIX_PATH) and os.path.exists(PCA_COMP_PATH):
        return PCA_FIX_PATH, PCA_COMP_PATH
    import pandas as pd

    rng = np.random.RandomState(999)
    n = 2000
    latent = rng.randn(n, 2)
    mix = np.array([[1.0, 0.2], [0.8, -0.4], [0.5, 0.9], [-0.3, 0.7]])
    X = latent @ mix.T + 0.1 * rng.randn(n, 4)
    pdf = pd.DataFrame(X, columns=["v0", "v1", "v2", "v3"])
    pdf.insert(0, "fid", np.arange(n, dtype=np.int64))
    Z = (X - X.mean(axis=0)) / X.std(axis=0)  # ddof=0, like operators.stats.znorm
    evals, evecs = np.linalg.eigh(np.cov(Z, rowvar=False))
    v = evecs[:, -1]
    if abs(v.min()) > abs(v.max()):
        v = -v
    comp = pd.DataFrame([v], columns=["w0", "w1", "w2", "w3"])
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{PCA_FIX_PATH}.tmp.{os.getpid()}"
    pdf.to_parquet(tmp)
    os.replace(tmp, PCA_FIX_PATH)
    tmp = f"{PCA_COMP_PATH}.tmp.{os.getpid()}"
    comp.to_parquet(tmp)
    os.replace(tmp, PCA_COMP_PATH)
    return PCA_FIX_PATH, PCA_COMP_PATH


KPCA_COMP_PATH = f"{CACHE_DIR}/kpca_components.parquet"
KPCA_GAMMA = 0.25
KPCA_LANDMARKS = 8  # fid < 8 of the pca fixture


def ensure_kpca_fixture() -> tuple[str, str]:
    """EXPECTED Nyström-KPCA projection weights, computed INDEPENDENTLY in
    numpy over the shared pca fixture (landmarks = its first 8 rows,
    γ = 0.25, no standardization): uts(x) = Σ_j c_j·exp(-γ‖x−l_j‖²) with
    c = K(L,L)^{-1/2}·v, v the sign-pinned top eigenvector of the feature
    map's covariance — the closed form of what kernel_pca_to_uts assembles
    as Spark expressions + ml.PCA. Stored per-landmark (c_j, l_j, γ) so the
    DuckDB oracle is one CROSS JOIN + sum of exp terms."""
    fix_path, _ = ensure_pca_fixture()
    if os.path.exists(KPCA_COMP_PATH):
        return fix_path, KPCA_COMP_PATH
    import pandas as pd

    pdf = pd.read_parquet(fix_path).sort_values("fid")
    X = pdf[["v0", "v1", "v2", "v3"]].to_numpy()
    L = X[:KPCA_LANDMARKS]
    g = KPCA_GAMMA
    d2_ll = ((L[:, None, :] - L[None, :, :]) ** 2).sum(axis=2)
    vals, vecs = np.linalg.eigh(np.exp(-g * d2_ll))
    inv = np.where(vals > 1e-12, 1.0 / np.sqrt(np.clip(vals, 1e-12, None)), 0.0)
    A = (vecs * inv) @ vecs.T
    d2_xl = ((X[:, None, :] - L[None, :, :]) ** 2).sum(axis=2)
    phi = np.exp(-g * d2_xl) @ A
    evals, evecs = np.linalg.eigh(np.cov(phi, rowvar=False))
    v = evecs[:, -1]
    if abs(v.min()) > abs(v.max()):
        v = -v
    c = A @ v
    comp = pd.DataFrame(
        {"j": np.arange(len(L)), "c": c, "gamma": g,
         **{f"l{i}": L[:, i] for i in range(L.shape[1])}}
    )
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{KPCA_COMP_PATH}.tmp.{os.getpid()}"
    comp.to_parquet(tmp)
    os.replace(tmp, KPCA_COMP_PATH)
    return fix_path, KPCA_COMP_PATH


MAT_PATH = f"{CACHE_DIR}/gauss_fixture.mat"
MAT_ORACLE_PATH = f"{CACHE_DIR}/gauss_fixture_expected.parquet"


def ensure_mat_fixture() -> tuple[str, str]:
    """Deterministic MAT5 file (written by sources/mat_reader.save_mat) plus
    the EXPECTED DataFrame parquet written straight from the source numpy
    array — an independent path, so the driver cross-checks the MAT5 PARSER
    (sources/mat_reader.load_mat), not parquet IO."""
    if os.path.exists(MAT_PATH) and os.path.exists(MAT_ORACLE_PATH):
        return MAT_PATH, MAT_ORACLE_PATH
    import pandas as pd

    from mtsad_spark.sources.mat_reader import save_mat

    rng = np.random.RandomState(888)
    X = np.round(rng.randn(300, 3) * 7 + 50, 6)
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{MAT_PATH}.tmp.{os.getpid()}"
    save_mat(tmp, {"X": X})
    os.replace(tmp, MAT_PATH)
    pdf = pd.DataFrame(X, columns=["v0", "v1", "v2"])
    pdf.insert(0, "t", np.arange(len(X), dtype=np.int64))
    tmp = f"{MAT_ORACLE_PATH}.tmp.{os.getpid()}"
    pdf.to_parquet(tmp)
    os.replace(tmp, MAT_ORACLE_PATH)
    return MAT_PATH, MAT_ORACLE_PATH


CSV_FIX_PATH = f"{CACHE_DIR}/mts_fixture.csv"
TSV_FIX_PATH = f"{CACHE_DIR}/mts_fixture.tsv"
SERIES_TXT_PATH = f"{CACHE_DIR}/series_fixture.txt"
SERIES_ORACLE_PATH = f"{CACHE_DIR}/series_expected.parquet"
CSV_N, CSV_NV, CSV_SEED = 500, 10, 1234
SERIES_N = 400


def ensure_reader_fixtures() -> None:
    """Deterministic CSV / TSV / whitespace-text inputs for the reader
    queries (SURVEY.md S1/S2/S3/S6, P2): both engines parse the SAME text
    bytes — sources/readers.read_mts_table vs DuckDB ``read_csv`` — so the
    driver cross-checks the format parser itself, the ARFF/MAT independence
    pattern. The float-series text file gets an EXPECTED parquet written
    straight from the source array instead (DuckDB preserves no file line
    order), and deliberately contains leading whitespace and blank lines the
    np.loadtxt-analog reader must trim and skip.

    Values are formatted with exactly 2 (CSV/TSV) / 6 (series) decimals so
    text→double parses to the identical double in both engines."""
    paths = (CSV_FIX_PATH, TSV_FIX_PATH, SERIES_TXT_PATH, SERIES_ORACLE_PATH)
    if all(os.path.exists(p) for p in paths):
        return
    import pandas as pd

    rng = np.random.RandomState(CSV_SEED)
    n = CSV_N
    cols = {f"v{i}": np.round(rng.randn(n) * 10 + 50, 2) for i in range(CSV_NV)}
    tag = np.where(rng.rand(n) < 0.15, "anormal", "normal")
    header = ["t", "ts", *cols.keys(), "tag"]
    rows = []
    for i in range(n):
        ts = f"2024-01-01 {i // 3600:02d}:{(i // 60) % 60:02d}:{i % 60:02d}"
        rows.append(
            [str(i), ts, *(f"{cols[c][i]:.2f}" for c in cols), tag[i]]
        )
    os.makedirs(CACHE_DIR, exist_ok=True)
    for path, sep in ((CSV_FIX_PATH, ","), (TSV_FIX_PATH, "\t")):
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(sep.join(header) + "\n")
            f.write("\n".join(sep.join(r) for r in rows) + "\n")
        os.replace(tmp, path)
    # whitespace float series (np.loadtxt analog): leading spaces + blank
    # lines every 50th data line — the reader must trim/skip them
    vals = np.round(rng.randn(SERIES_N) * 5 + 20, 6)
    lines = []
    for i, v in enumerate(vals):
        if i % 50 == 25:
            lines.append("")
        lines.append(f"  {v:.6f}")
    tmp = f"{SERIES_TXT_PATH}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, SERIES_TXT_PATH)
    pdf = pd.DataFrame({"idx": np.arange(SERIES_N, dtype=np.int64), "value": vals})
    tmp = f"{SERIES_ORACLE_PATH}.tmp.{os.getpid()}"
    pdf.to_parquet(tmp)
    os.replace(tmp, SERIES_ORACLE_PATH)


SIGNAL_FIX_PATH = f"{CACHE_DIR}/signal_fixture.parquet"
SIGNAL_FFT_ORACLE_PATH = f"{CACHE_DIR}/signal_fft_expected.parquet"
SIGNAL_HP_ORACLE_PATH = f"{CACHE_DIR}/signal_hp_expected.parquet"
SIGNAL_KEYS, SIGNAL_N, SIGNAL_SEED = 4, 512, 2026
FFT_LOW_CUT, FFT_K = 0.05, 2.0
HP_LAMB, HP_K = 1600.0, 3.0


def ensure_signal_fixture() -> tuple[str, str, str]:
    """Deterministic multi-key series plus EXPECTED FFT band-stop and HP
    residuals computed by INDEPENDENT implementations (VERDICT r03 next #4):
    the FFT expectation is a direct O(n²) DFT matrix product (never np.fft,
    which the engine kernel uses), the HP expectation a DENSE
    ``np.linalg.solve`` of (I + λDᵀD) (never the engine's O(n) penta LDLᵀ).

    Cross-engine float discipline: both implementations are verified at
    build time to agree with the engine-formula results to <1e-8 AND to sit
    >1e-9 away from every 6-decimal rounding boundary and every
    label-threshold boundary, so round(x, 6) and the k·σ / k labels are
    bitwise-stable across the implementation gap (the epsilon_f1 round-the-
    derived-column discipline, with the hazard asserted instead of assumed)."""
    if all(
        os.path.exists(p)
        for p in (SIGNAL_FIX_PATH, SIGNAL_FFT_ORACLE_PATH, SIGNAL_HP_ORACLE_PATH)
    ):
        return SIGNAL_FIX_PATH, SIGNAL_FFT_ORACLE_PATH, SIGNAL_HP_ORACLE_PATH
    import pandas as pd

    rng = np.random.RandomState(SIGNAL_SEED)
    n, nk = SIGNAL_N, SIGNAL_KEYS
    src_rows, fft_rows, hp_rows = [], [], []

    t_idx = np.arange(n)
    # direct DFT matrices (independent of np.fft)
    W = np.exp(-2j * np.pi * np.outer(t_idx, t_idx) / n)
    freqs = ((t_idx + n // 2) % n - n // 2) / n
    keep = np.abs(freqs) >= FFT_LOW_CUT
    for ki in range(nk):
        y = (
            10.0 * np.sin(2 * np.pi * t_idx / 64.0)
            + 0.02 * t_idx
            + rng.randn(n)
        )
        spikes = rng.choice(n, size=6, replace=False)
        y[spikes] += 8.0
        y = np.round(y, 6)
        key = f"s{ki}"
        for i in range(n):
            src_rows.append((key, int(i), float(y[i])))
        # FFT band-stop residual, direct DFT
        spec = W @ y
        resid = np.real(np.conj(W) @ (spec * keep)) / n
        sigma = resid.std()
        label = np.where(np.abs(resid) > FFT_K * sigma, 1, -1)
        # guards: the engine kernel recomputes with np.fft on these same
        # doubles — assert the independent DFT and the library FFT agree
        # AFTER round(,6) and on every label, i.e. no value straddles a
        # rounding or k·σ boundary across the implementation gap
        spec2 = np.fft.fft(y)
        spec2[np.abs(np.fft.fftfreq(n)) < FFT_LOW_CUT] = 0
        resid2 = np.real(np.fft.ifft(spec2))
        assert np.abs(resid - resid2).max() < 1e-8, "DFT vs FFT drifted"
        assert (np.round(resid, 6) == np.round(resid2, 6)).all(), "fft round boundary"
        label2 = np.where(np.abs(resid2) > FFT_K * resid2.std(), 1, -1)
        assert (label == label2).all(), "fft label boundary"
        for i in range(n):
            fft_rows.append((key, int(i), round(float(resid[i]), 6), int(label[i])))
        # HP trend via DENSE solve (independent of the engine's penta LDLt)
        m = n - 2
        D = np.zeros((m, n))
        for r in range(m):
            D[r, r : r + 3] = (1.0, -2.0, 1.0)
        A = np.eye(n) + HP_LAMB * (D.T @ D)
        trend = np.linalg.solve(A, y)
        resid_hp = y - trend
        med = np.median(resid_hp)
        mad = np.median(np.abs(resid_hp - med))
        mod_z = 0.6745 * np.abs(resid_hp - med) / mad
        label_hp = np.where(mod_z > HP_K, 1, -1)
        # same discipline vs the engine's penta solve (the exact code the
        # kernel will run): rounded trend/mod_z and labels must be identical
        from mtsad_spark.functions.signal import _hp_filter

        trend2 = _hp_filter(y, HP_LAMB)
        resid2_hp = y - trend2
        med2 = np.median(resid2_hp)
        mad2 = np.median(np.abs(resid2_hp - med2))
        mod_z2 = 0.6745 * np.abs(resid2_hp - med2) / mad2
        assert np.abs(trend - trend2).max() < 1e-8, "dense vs penta drifted"
        assert (np.round(trend, 6) == np.round(trend2, 6)).all(), "hp trend boundary"
        assert (np.round(mod_z, 6) == np.round(mod_z2, 6)).all(), "hp mod_z boundary"
        assert (label_hp == np.where(mod_z2 > HP_K, 1, -1)).all(), "hp label boundary"
        for i in range(n):
            hp_rows.append(
                (key, int(i), round(float(trend[i]), 6), round(float(mod_z[i]), 6), int(label_hp[i]))
            )
    os.makedirs(CACHE_DIR, exist_ok=True)
    frames = {
        SIGNAL_FIX_PATH: pd.DataFrame(src_rows, columns=["key", "t", "value"]),
        SIGNAL_FFT_ORACLE_PATH: pd.DataFrame(
            fft_rows, columns=["key", "t", "resid", "label"]
        ),
        SIGNAL_HP_ORACLE_PATH: pd.DataFrame(
            hp_rows, columns=["key", "t", "trend", "mod_z", "label"]
        ),
    }
    for path, pdf in frames.items():
        tmp = f"{path}.tmp.{os.getpid()}"
        pdf.to_parquet(tmp)
        os.replace(tmp, path)
    return SIGNAL_FIX_PATH, SIGNAL_FFT_ORACLE_PATH, SIGNAL_HP_ORACLE_PATH

"""Pandas/numpy reference outputs the benchmark checks the engine against.

Everything here is computed from the generated input files alone, with no
Spark involved, so a wrong engine result cannot also make its own reference
wrong. Integer rollup partials are exact; means and standard deviations use
the same single IEEE expression as the engine, so tiers compare bit for bit.
Window and EWMA scores compare with a relative tolerance, because pandas'
rolling kernels order float additions differently from Spark's window frames.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
SCORE_RTOL = 1e-9


def read_raw(path: str, columns: tuple[str, ...] = ("source", "n_tok", "ingest_ts")) -> pd.DataFrame:
    """Raw rows as (source, v, ts) with ``ts`` in epoch seconds."""
    t = pq.read_table(path, columns=list(columns))
    col = t.column("ingest_ts")
    per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[col.type.unit]
    ts = col.cast("int64").to_numpy() // per_s
    out = pd.DataFrame(
        {
            "source": t.column("source").to_pandas(),
            "v": t.column("n_tok").to_numpy().astype(np.int64),
            "ts": ts,
        }
    )
    for c in columns:
        if c not in ("source", "n_tok", "ingest_ts"):
            out[c] = t.column(c).to_pandas().astype(np.int64).to_numpy()
    return out


def finalize(df: pd.DataFrame) -> pd.DataFrame:
    """mean/std from exact integer partials, same expression as the engine."""
    mean = df["s1"].astype(np.float64) / df["cnt"].astype(np.float64)
    var = df["s2"].astype(np.float64) / df["cnt"].astype(np.float64) - mean * mean
    return df.assign(mean=mean, std=np.sqrt(np.maximum(var, 0.0)))


def tier_partials(raw: pd.DataFrame, tier: str) -> pd.DataFrame:
    """Exact (cnt, s1, s2, vmin, vmax) per (source, bucket_ts), sorted."""
    w = TIER_SECONDS[tier]
    g = raw.assign(bucket_ts=raw["ts"] // w * w, v2=raw["v"] * raw["v"]).groupby(
        ["source", "bucket_ts"], sort=True
    )
    out = pd.DataFrame(
        {
            "cnt": g["v"].size(),
            "s1": g["v"].sum(),
            "s2": g["v2"].sum(),
            "vmin": g["v"].min(),
            "vmax": g["v"].max(),
        }
    ).reset_index()
    return finalize(out)


def coarsen(m1: pd.DataFrame, tier: str) -> pd.DataFrame:
    """A coarser tier from the exact integer 1m partials: counts and sums
    add, minima and maxima combine, so this equals ``tier_partials`` of the
    raw rows at a fraction of the cost."""
    w = TIER_SECONDS[tier]
    g = m1.assign(bucket_ts=m1["bucket_ts"] // w * w).groupby(["source", "bucket_ts"], sort=True)
    out = g.agg(cnt=("cnt", "sum"), s1=("s1", "sum"), s2=("s2", "sum"), vmin=("vmin", "min"), vmax=("vmax", "max"))
    return finalize(out.reset_index())


def locf_fill(m1: pd.DataFrame) -> pd.DataFrame:
    """Dense 1m spine per source from first to last bucket, mean carried
    forward, cnt 0 on filled buckets."""
    parts = []
    for src, g in m1.groupby("source", sort=True):
        spine = np.arange(g["bucket_ts"].iloc[0], g["bucket_ts"].iloc[-1] + 60, 60, dtype=np.int64)
        d = g.set_index("bucket_ts").reindex(spine)
        parts.append(
            pd.DataFrame(
                {
                    "source": src,
                    "bucket_ts": spine,
                    "gap_filled": d["cnt"].isna().to_numpy(),
                    "cnt": d["cnt"].fillna(0).astype(np.int64).to_numpy(),
                    "mean": d["mean"].ffill().to_numpy(),
                }
            )
        )
    return pd.concat(parts, ignore_index=True)


def rolling_zscore(filled: pd.DataFrame, w: int, k: float) -> pd.DataFrame:
    """Rolling mean / sample std (ddof=1) over the last ``w`` rows per source;
    score = |x - mean| / std where std > 0; label +1 when score > k."""
    g = filled.groupby("source", sort=True)["mean"]
    mu = g.transform(lambda s: s.rolling(w, min_periods=w).mean())
    sd = g.transform(lambda s: s.rolling(w, min_periods=w).std(ddof=1))
    score = ((filled["mean"] - mu).abs() / sd).where(sd > 0)
    label = np.where(score > k, 1, -1)
    return filled.assign(roll_mean=mu, roll_std=sd, score=score, label=label)


def ewma_residual(m1: pd.DataFrame, alpha: float) -> pd.DataFrame:
    """One-step-ahead EWMA residual per source (adjust=False recursion)."""
    parts = []
    for _, g in m1.groupby("source", sort=True):
        level = g["mean"].ewm(alpha=alpha, adjust=False).mean()
        resid = (g["mean"] - level.shift(1)).fillna(0.0)
        parts.append(g[["source", "bucket_ts", "mean"]].assign(ewma_level=level, resid=resid))
    return pd.concat(parts, ignore_index=True)


def gorilla_decode(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode one Gorilla block to (int64 ts, uint64 value bits).

    Written from the block format alone (header ``G1``, uint32 count, int64
    first ts, uint64 first value bits, then delta-of-delta timestamps and
    XOR-coded values, big-endian), independently of the engine's codec."""
    if blob[:2] != b"G1":
        raise ValueError("bad block magic")
    (n,) = struct.unpack(">I", blob[2:6])
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.uint64)
    first_ts, first_bits = struct.unpack(">qQ", blob[6:22])
    body = blob[22:]
    bits = bin(int.from_bytes(body, "big"))[2:].zfill(len(body) * 8) if body else ""
    pos = 0

    def take(k: int) -> int:
        nonlocal pos
        v = int(bits[pos : pos + k], 2)
        pos += k
        return v

    ts = [first_ts]
    vals = [first_bits]
    delta, lead, trail = 0, -1, -1
    for _ in range(1, n):
        if bits[pos] == "0":
            pos += 1
            dod = 0
        elif bits[pos : pos + 2] == "10":
            pos += 2
            dod = take(7) - 63
        elif bits[pos : pos + 3] == "110":
            pos += 3
            dod = take(9) - 255
        elif bits[pos : pos + 4] == "1110":
            pos += 4
            dod = take(12) - 2047
        else:
            pos += 4
            dod = take(64)
            if dod >= 1 << 63:
                dod -= 1 << 64
        delta += dod
        ts.append(ts[-1] + delta)
        if bits[pos] == "0":
            pos += 1
            vals.append(vals[-1])
            continue
        if bits[pos + 1] == "0":
            pos += 2
            sig = 64 - lead - trail
        else:
            pos += 2
            lead = take(5)
            sig = take(6) or 64
            trail = 64 - lead - sig
        vals.append(vals[-1] ^ (take(sig) << trail))
    return np.array(ts, np.int64), np.array(vals, np.uint64)


def day_blocks(m1: pd.DataFrame) -> dict[tuple[str, int], tuple[np.ndarray, np.ndarray]]:
    """Expected (ts, value bits) of every (source, day) block of 1m means."""
    day = m1["bucket_ts"] // 86400 * 86400
    out = {}
    for (src, d), g in m1.groupby([m1["source"], day], sort=True):
        out[(src, int(d))] = (
            g["bucket_ts"].to_numpy(np.int64),
            g["mean"].to_numpy(np.float64).view(np.uint64),
        )
    return out


def range_aggregate(raw: pd.DataFrame, t0: int, t1: int) -> pd.DataFrame:
    """Direct aggregate of raw rows with t0 <= ts < t1, per source."""
    sel = raw[(raw["ts"] >= t0) & (raw["ts"] < t1)]
    g = sel.assign(v2=sel["v"] * sel["v"]).groupby("source", sort=True)
    out = pd.DataFrame(
        {
            "cnt": g["v"].size(),
            "s1": g["v"].sum(),
            "s2": g["v2"].sum(),
            "vmin": g["v"].min(),
            "vmax": g["v"].max(),
        }
    ).reset_index()
    return finalize(out)

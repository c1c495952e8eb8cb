"""Gorilla compression of rollup points (north_star; public Gorilla paper
semantics — Pelkonen et al., VLDB 2015 — and the TerseTS framing, PAPERS.md).

Timestamps: delta-of-delta with the paper's variable-length buckets
  dod == 0                  -> '0'
  dod in [-63, 64]          -> '10'   + 7  bits (dod + 63)
  dod in [-255, 256]        -> '110'  + 9  bits (dod + 255)
  dod in [-2047, 2048]      -> '1110' + 12 bits (dod + 2047)
  else                      -> '1111' + 64 bits (two's complement)

Values: XOR of consecutive float64 bit patterns
  xor == 0                                  -> '0'
  fits in previous leading/length window    -> '10' + meaningful bits
  else -> '11' + 5 bits leading-zero count + 6 bits meaningful length (64→0)
          + meaningful bits

Block layout: magic 'G' '1', uint32 count, int64 first_ts, uint64 first_val
bits, then the bit stream. All big-endian, byte-aligned header.

The codec is pure Python-int bit packing inside Arrow-batched pandas UDFs —
it runs on executors per (source, tier, chunk) group, never on the driver.
NaNs round-trip bit-exactly (we operate on raw float64 bit patterns).

Engine integration: :func:`pack_partials` packs a tier into one row per
(keys..., chunk) with one block per column and :func:`unpack_partials`
explodes the blocks back to points; :func:`pack_rollup` /
:func:`unpack_rollup` are their one-column case — used by the exactness tests
to prove compress∘decompress = identity on every tier.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, LongType, StructField, StructType

_MAGIC = b"G1"


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def bytes(self) -> bytes:
        out = bytearray(self.buf)
        if self.nbits:
            out.append((self.acc << (8 - self.nbits)) & 0xFF)
        return bytes(out)


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read(self, nbits: int) -> int:
        """Byte-window extraction: one int.from_bytes per call instead of a
        per-bit loop (~7× faster decode for 64-bit payloads)."""
        pos = self.pos
        end = pos + nbits
        b0 = pos >> 3
        b1 = (end + 7) >> 3
        chunk = int.from_bytes(self.data[b0:b1], "big")
        shift = (b1 << 3) - end
        self.pos = end
        return (chunk >> shift) & ((1 << nbits) - 1)


def compress(ts: np.ndarray, vals: np.ndarray) -> bytes:
    """Compress parallel int64 timestamps + float64 values to one block."""
    ts = np.asarray(ts, dtype=np.int64)
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = len(ts)
    if n == 0:
        return _MAGIC + struct.pack(">I", 0)
    header = _MAGIC + struct.pack(">Iq", n, int(ts[0])) + struct.pack(">Q", int(bits[0]))
    w = _BitWriter()
    prev_ts = int(ts[0])
    prev_delta = 0
    prev_bits = int(bits[0])
    prev_lead, prev_trail = -1, -1
    for i in range(1, n):
        t = int(ts[i])
        delta = t - prev_ts
        dod = delta - prev_delta
        prev_ts, prev_delta = t, delta
        if dod == 0:
            w.write(0, 1)
        elif -63 <= dod <= 64:
            w.write(0b10, 2)
            w.write(dod + 63, 7)
        elif -255 <= dod <= 256:
            w.write(0b110, 3)
            w.write(dod + 255, 9)
        elif -2047 <= dod <= 2048:
            w.write(0b1110, 4)
            w.write(dod + 2047, 12)
        else:
            w.write(0b1111, 4)
            w.write(dod & ((1 << 64) - 1), 64)

        b = int(bits[i])
        xor = b ^ prev_bits
        prev_bits = b
        if xor == 0:
            w.write(0, 1)
            continue
        lead = 64 - xor.bit_length()
        trail = (xor & -xor).bit_length() - 1
        if lead > 31:
            lead = 31
        if prev_lead >= 0 and lead >= prev_lead and trail >= prev_trail:
            # reuse previous window
            w.write(0b10, 2)
            sig = 64 - prev_lead - prev_trail
            w.write(xor >> prev_trail, sig)
        else:
            w.write(0b11, 2)
            sig = 64 - lead - trail
            w.write(lead, 5)
            w.write(sig & 0x3F, 6)  # 64 encodes as 0
            w.write(xor >> trail, sig)
            prev_lead, prev_trail = lead, trail
    return header + w.bytes()


def decompress(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`compress` → (int64 ts, float64 vals)."""
    assert blob[:2] == _MAGIC, "bad gorilla block magic"
    (n,) = struct.unpack(">I", blob[2:6])
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    (first_ts,) = struct.unpack(">q", blob[6:14])
    (first_bits,) = struct.unpack(">Q", blob[14:22])
    ts = np.empty(n, np.int64)
    bits = np.empty(n, np.uint64)
    ts[0], bits[0] = first_ts, first_bits
    r = _BitReader(blob[22:])
    prev_ts, prev_delta, prev_bits = first_ts, 0, first_bits
    prev_lead, prev_trail = -1, -1
    for i in range(1, n):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            raw = r.read(64)
            dod = raw - (1 << 64) if raw >= (1 << 63) else raw
        prev_delta += dod
        prev_ts += prev_delta
        ts[i] = prev_ts

        if r.read(1) == 0:
            b = prev_bits
        else:
            if r.read(1) == 0:
                sig = 64 - prev_lead - prev_trail
                xor = r.read(sig) << prev_trail
            else:
                lead = r.read(5)
                sig = r.read(6) or 64
                trail = 64 - lead - sig
                xor = r.read(sig) << trail
                prev_lead, prev_trail = lead, trail
            b = prev_bits ^ xor
        bits[i] = b
        prev_bits = b
    return ts, bits.view(np.float64)


# ---------------------------------------------------------------- Spark UDFs

_PACK_RET = BinaryType()
_UNPACK_RET = StructType(
    [StructField("ts", ArrayType(LongType())), StructField("vals", ArrayType(DoubleType()))]
)


@F.pandas_udf(_PACK_RET)
def gorilla_pack(ts_arr: pd.Series, val_arr: pd.Series) -> pd.Series:
    return pd.Series(
        [
            compress(np.asarray(t, dtype=np.int64), np.asarray(v, dtype=np.float64))
            for t, v in zip(ts_arr, val_arr)
        ],
        dtype=object,
    )


@F.pandas_udf(_UNPACK_RET)
def gorilla_unpack(blob: pd.Series) -> pd.DataFrame:
    ts_out, val_out = [], []
    for b in blob:
        t, v = decompress(bytes(b))
        ts_out.append(t.tolist())
        val_out.append(v.tolist())
    return pd.DataFrame({"ts": ts_out, "vals": val_out})


_UNPACK_I64_RET = StructType(
    [StructField("ts", ArrayType(LongType())), StructField("vals", ArrayType(LongType()))]
)


@F.pandas_udf(_PACK_RET)
def gorilla_pack_i64(ts_arr: pd.Series, val_arr: pd.Series) -> pd.Series:
    """Pack an INT64 value stream: the codec operates on raw 64-bit patterns
    (compress views float64 as uint64 before XOR), so reinterpreting int64
    bits as float64 — a view, NOT a value cast — round-trips any long
    bitwise, including partial sums past 2^53 where a double value cast
    would lose exactness."""
    return pd.Series(
        [
            compress(
                np.asarray(t, dtype=np.int64),
                np.asarray(v, dtype=np.int64).view(np.float64),
            )
            for t, v in zip(ts_arr, val_arr)
        ],
        dtype=object,
    )


@F.pandas_udf(_UNPACK_I64_RET)
def gorilla_unpack_i64(blob: pd.Series) -> pd.DataFrame:
    """Inverse of :func:`gorilla_pack_i64` (float64 bits viewed back as
    int64)."""
    ts_out, val_out = [], []
    for b in blob:
        t, v = decompress(bytes(b))
        ts_out.append(t.tolist())
        val_out.append(v.view(np.int64).tolist())
    return pd.DataFrame({"ts": ts_out, "vals": val_out})


def _pack(tier_df: DataFrame, keys: list[str], blocks: dict, chunk: str) -> DataFrame:
    """One row per (keys..., chunk_start) with one Gorilla block per entry of
    ``blocks`` = {output column: (struct field, value column, packer)}.

    Points are gathered time-ordered via ``sort_array(collect_list(struct))``
    — order comes from the struct's leading ts field, so the pack is
    deterministic regardless of shuffle arrival order, and every block is
    packed from the SAME sorted list, so all blocks of a row share one ts
    sequence. Block size stays bounded by the chunk width (an executor never
    materializes a whole key)."""
    g = tier_df.groupBy(
        *keys, F.date_trunc(chunk, F.col("bucket_ts")).alias("chunk_start")
    ).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("bucket_ts").cast("long").alias("ts"),
                    *[v.alias(f) for f, v, _ in blocks.values()],
                )
            )
        ).alias("_pts")
    )
    return g.select(
        *keys,
        "chunk_start",
        F.size("_pts").alias("n_points"),
        *[
            packer(F.col("_pts.ts"), F.col(f"_pts.{f}")).alias(out)
            for out, (f, _, packer) in blocks.items()
        ],
    )


def pack_rollup(
    tier_df: DataFrame,
    keys: list[str],
    value_col: str,
    chunk: str = "day",
) -> DataFrame:
    """One packed float64 ``block`` per (keys..., chunk_start): the
    one-column case of :func:`pack_partials`."""
    blocks = {"block": ("v", F.col(value_col).cast("double"), gorilla_pack)}
    return _pack(tier_df, keys, blocks, chunk)


def pack_partials(
    tier_df: DataFrame,
    keys: list[str],
    cols: list[str],
    long_cols: set[str],
    chunk: str = "day",
) -> DataFrame:
    """Pack a MULTI-column partial-state tier into one row per
    (keys..., chunk_start) with one Gorilla block ``block_<col>`` PER
    COLUMN — the north_star's "rollup points stored as packed binary
    columns" as a columnar layout: a reader that needs only cnt/s1 decodes
    only those blocks. One shuffle (the groupBy). Columns in ``long_cols``
    are packed bit-reinterpreted (lossless for any int64); the rest as
    float64."""
    blocks = {
        f"block_{c}": (c, F.col(c), gorilla_pack_i64 if c in long_cols else gorilla_pack)
        for c in cols
    }
    return _pack(tier_df, keys, blocks, chunk)


def unpack_partials(
    packed: DataFrame, keys: list[str], cols: list[str], long_cols: set[str]
) -> DataFrame:
    """Inverse of :func:`pack_partials` → (keys..., bucket_ts, cols...).
    The ts sequence is decoded from the first column's block (all blocks
    carry the same one by construction)."""
    u = packed.select(
        *keys,
        *[
            (gorilla_unpack_i64 if c in long_cols else gorilla_unpack)(
                F.col(f"block_{c}")
            ).alias(f"_u_{c}")
            for c in cols
        ],
    )
    first = cols[0]
    z = u.select(
        *keys,
        F.explode(
            F.arrays_zip(
                F.col(f"_u_{first}.ts").alias("ts"),
                *[F.col(f"_u_{c}.vals").alias(c) for c in cols],
            )
        ).alias("_p"),
    )
    return z.select(
        *keys,
        F.timestamp_seconds(F.col("_p.ts")).alias("bucket_ts"),
        *[F.col(f"_p.{c}").alias(c) for c in cols],
    )


def unpack_rollup(packed: DataFrame, keys: list[str]) -> DataFrame:
    """Inverse of :func:`pack_rollup` → (keys..., bucket_ts, value) points."""
    return unpack_partials(packed.withColumnRenamed("block", "block_value"), keys, ["value"], set())

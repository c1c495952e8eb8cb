"""The benchmark's workloads: inputs made from a seed, one pass through the
engine's public functions, and the checks of every output.

``batch_scan`` and ``score_long`` run the same batch pass (the shape of the
frozen ``bench.seq_pipeline`` headline) on inputs that load different layers;
``ingest_refresh`` drives ``plans.continuous.ContinuousAggregate``.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os
import shutil
import time
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mtsad_spark.fixtures import sequences
from mtsad_spark.functions.gorilla import pack_rollup, unpack_partials
from mtsad_spark.operators.gapfill import gap_fill
from mtsad_spark.operators.rollup import PARTIAL_COLS, TIER_ORDER, rollup_tiers
from mtsad_spark.operators.scoring import ewma_residual_chunked, sliding_zscore
from mtsad_spark.plans.continuous import ContinuousAggregate

from . import reference as ref

KEYS = ["source"]
EPOCH = dt.datetime(2024, 1, 1)  # fixtures.EPOCH, read as UTC
EPOCH_S = int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp())
DAY_S = 86400
ZSCORE_W, ZSCORE_K, EWMA_ALPHA = 30, 3.0, 0.2
PRIME_ROWS, PRIME_PASSES = 20_000, 3


# ------------------------------------------------------------ input files


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def write_manifest(input_dir: str, manifest: str, params: dict) -> None:
    with open(manifest, "w") as f:
        json.dump({"params": params, "files": _digest(input_dir)}, f)


def verify_manifest(input_dir: str, manifest: str, params: dict) -> bool:
    """True when the inputs were made with ``params`` and every input file is
    present with its recorded content hash."""
    if not os.path.exists(manifest):
        return False
    with open(manifest) as f:
        return json.load(f) == {"params": params, "files": _digest(input_dir)}


# ------------------------------------------------------------ output hashes


def _hash_aggs(df: DataFrame) -> list:
    """Order-insensitive content hash and row count of a frame."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
    return [F.bit_xor(h).alias("h"), F.count(F.lit(1)).alias("n")]


def collect_hashes(outputs: dict[str, DataFrame]) -> dict[str, list[int]]:
    """One action: the union of every output's (hash, rows)."""
    rows = reduce(
        lambda a, b: a.unionByName(b),
        [df.agg(*_hash_aggs(df)).select(F.lit(n).alias("output"), "h", "n") for n, df in outputs.items()],
    ).collect()
    return {r["output"]: [r["h"], r["n"]] for r in rows}


# ------------------------------------------------------------ comparisons


def _sorted(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return df.sort_values(keys, kind="mergesort").reset_index(drop=True)


def compare(name, got, exp, keys, exact=(), close=()) -> list[str]:
    """Errors found comparing engine output ``got`` with reference ``exp``:
    key columns and ``exact`` columns must match bit for bit (NaN where NaN),
    ``close`` columns within ``ref.SCORE_RTOL`` relative or absolute (a score
    or residual near 0 is a difference of nearly equal numbers)."""
    got, exp = _sorted(got, keys), _sorted(exp, keys)
    if len(got) != len(exp):
        return [f"{name}: {len(got)} rows, reference has {len(exp)}"]
    errs = []
    for c in [*keys, *exact]:
        a, b = got[c].to_numpy(), exp[c].to_numpy()
        same = (
            np.array_equal(a.astype(np.float64).view(np.uint64), b.astype(np.float64).view(np.uint64))
            if a.dtype.kind == "f" or b.dtype.kind == "f"
            else np.array_equal(a.astype(b.dtype), b)
        )
        if not same:
            errs.append(f"{name}.{c}: differs from reference")
    for c in close:
        a = got[c].to_numpy(np.float64)
        b = exp[c].to_numpy(np.float64)
        if not np.allclose(a, b, rtol=ref.SCORE_RTOL, atol=ref.SCORE_RTOL, equal_nan=True):
            errs.append(f"{name}.{c}: differs from reference by more than {ref.SCORE_RTOL}")
    return errs


def _epoch_cols(df: DataFrame, *cols: str) -> DataFrame:
    return df.withColumns({c: F.col(c).cast("long") for c in cols})


# ------------------------------------------------------------ batch pass


class SeqPipeline:
    """Scan the sequence table, compute the 1m partials once (persisted,
    job 1), then one action over the union of content hashes of five
    outputs: z-score on the LOCF-filled 1m series, chunked EWMA, Gorilla
    day blocks and the 1h and 1d tiers (job 2)."""

    def __init__(self, name: str, work: str, seed: int, rows: int, minutes: int, ewma_slice_rows: int):
        self.name = name
        self.dir = os.path.join(work, f"{name}-seed{seed}")
        self.seed = seed
        self.rows = rows
        self.minutes = minutes
        self.ewma_slice_rows = ewma_slice_rows
        self.params = {"rows": rows, "minutes": minutes, "ewma_slice_rows": ewma_slice_rows}
        self.inputs = os.path.join(self.dir, "input")
        self.input = os.path.join(self.inputs, "seq")
        self.prime_input = os.path.join(self.inputs, "prime")
        self.manifest = os.path.join(self.dir, "manifest.json")
        self.recorded = os.path.join(self.dir, "hashes.json")
        self.rows_per_pass = rows
        self.ops_per_pass = 1
        self.pass_hashes: list[dict] = []
        self.partials_s: list[float] = []  # job 1 of every timed untraced pass
        self.verified: dict = {}
        self.verify_errs: list[str] = ["outputs not verified"]

    # -- inputs and references, made once per seed

    def prepare(self, spark) -> None:
        if self.inputs_ok():
            return
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        sequences(
            spark, self.rows, self.minutes, seed=self.seed, with_tokens=False, partitions=16
        ).write.parquet(self.input)
        sequences(
            spark, PRIME_ROWS, self.minutes, seed=self.seed, with_tokens=False, partitions=4
        ).write.parquet(self.prime_input)
        raw = ref.read_raw(self.input)
        m1 = ref.tier_partials(raw, "1m")
        tiers = {t: m1 if t == "1m" else ref.coarsen(m1, t) for t in TIER_ORDER}
        filled = ref.locf_fill(tiers["1m"])
        refs = {
            **{f"rollup_{t}": df for t, df in tiers.items()},
            "zscore": ref.rolling_zscore(filled, ZSCORE_W, ZSCORE_K),
            "ewma": ref.ewma_residual(tiers["1m"], EWMA_ALPHA),
        }
        for n, df in refs.items():
            df.to_parquet(os.path.join(self.dir, f"ref_{n}.parquet"))
        write_manifest(self.inputs, self.manifest, self.params)

    def inputs_ok(self) -> bool:
        return verify_manifest(self.inputs, self.manifest, self.params)

    def prime(self, spark, tracer) -> None:
        """The cold part of set-up: the pass's per-query planning and
        scheduling code needs ~10 runs before the JIT has compiled it,
        whatever the input size, so run the pass on a small input
        ``PRIME_PASSES`` times."""
        real, self.input = self.input, self.prime_input
        try:
            for _ in range(PRIME_PASSES):
                self.run_pass(spark, tracer, None, record=False)
        finally:
            self.input = real

    def build(self, spark, round_no: int) -> None:
        """No state beyond the input files."""

    def has_next(self) -> bool:
        return True

    # -- the pass

    def _plan(self, spark):
        seq = spark.read.parquet(self.input)
        finalized, partials = rollup_tiers(seq, "ingest_ts", "n_tok", KEYS)
        return finalized, partials

    def _downstream(self, finalized, filled) -> dict[str, DataFrame]:
        m1 = finalized["1m"]
        return {
            "zscore": sliding_zscore(filled, KEYS, "bucket_ts", "mean", w=ZSCORE_W, k=ZSCORE_K),
            "ewma": ewma_residual_chunked(
                m1.select("source", "bucket_ts", "mean"), KEYS, "bucket_ts", "mean",
                alpha=EWMA_ALPHA, rows_per_slice=self.ewma_slice_rows,
            ),
            "gorilla": pack_rollup(m1, KEYS, "mean", chunk="day"),
            "rollup_1h": finalized["1h"],
            "rollup_1d": finalized["1d"],
        }

    def run_pass(self, spark, tracer, pass_id, record=True) -> None:
        with tracer.span("pass", pass_id):
            if tracer.enabled:
                hashes = self._traced_pass(spark, tracer)
            else:
                finalized, partials = self._plan(spark)
                t = time.perf_counter()
                partials["1m"].persist().count()
                if record:
                    self.partials_s.append(time.perf_counter() - t)
                try:
                    filled = gap_fill(finalized["1m"], KEYS, "1m", ["mean"], method="locf")
                    hashes = collect_hashes(self._downstream(finalized, filled))
                finally:
                    partials["1m"].unpersist()
        if record:
            self.pass_hashes.append(hashes)

    def _traced_pass(self, spark, tracer) -> dict:
        """Each layer forced by its own action, its upstream persisted."""
        with tracer.span("rollup.scan"):
            spark.read.parquet(self.input).write.format("noop").mode("overwrite").save()
        finalized, partials = self._plan(spark)
        filled = None
        try:
            with tracer.span("rollup") as s:
                s.counters["partial_rows"] = partials["1m"].persist().count()
                hashes = collect_hashes({"rollup_1h": finalized["1h"], "rollup_1d": finalized["1d"]})
            filled = gap_fill(finalized["1m"], KEYS, "1m", ["mean"], method="locf").persist()
            with tracer.span("gapfill") as s:
                n, n_filled = filled.agg(
                    F.count(F.lit(1)), F.sum(F.col("gap_filled").cast("long"))
                ).first()
                s.counters["spine_rows"] = n
                s.counters["filled_frac"] = n_filled / n
            outs = self._downstream(finalized, filled)
            with tracer.span("scoring.zscore"):
                hashes.update(collect_hashes({"zscore": outs["zscore"]}))
            with tracer.span("scoring.ewma"):
                hashes.update(collect_hashes({"ewma": outs["ewma"]}))
            with tracer.span("gorilla") as s:
                g = outs["gorilla"]
                r = g.agg(
                    *_hash_aggs(g), F.sum(F.length("block")).alias("b"), F.sum("n_points").alias("p")
                ).first()
                hashes["gorilla"] = [r["h"], r["n"]]
                s.counters["block_bytes"] = r["b"]
                s.counters["bits_per_point"] = 8.0 * r["b"] / r["p"]
        finally:
            if filled is not None:
                filled.unpersist()
            partials["1m"].unpersist()
        return hashes

    # -- checks

    def verify(self, spark) -> None:
        """Untimed, between set-up and the timed section (so it is one more
        warm-up pass too): one pass with full outputs, checked against the
        pandas/numpy references and the content hashes recorded for this
        seed."""
        finalized, partials = self._plan(spark)
        partials["1m"].persist()
        outs: dict[str, DataFrame] = {}
        try:
            filled = gap_fill(finalized["1m"], KEYS, "1m", ["mean"], method="locf")
            outs = {n: df.persist() for n, df in self._downstream(finalized, filled).items()}
            self.verified = collect_hashes(outs)
            self.verify_errs = self._check_outputs(finalized, outs)
        finally:
            for df in outs.values():
                df.unpersist()
            partials["1m"].unpersist()
        if os.path.exists(self.recorded):
            with open(self.recorded) as f:
                if json.load(f) != self.verified:
                    self.verify_errs.append("content hashes differ from those recorded for this seed")
        elif not self.verify_errs:
            with open(self.recorded, "w") as f:
                json.dump(self.verified, f)

    def check(self, spark) -> tuple[list[str], int]:
        """Every timed pass's content hashes against the verified pass's.
        Returns (errors, number of timed passes failed)."""
        errs = list(self.verify_errs)
        if errs:  # every timed pass matched a wrong or unconfirmed result
            return errs, len(self.pass_hashes)
        failed = sum(h != self.verified for h in self.pass_hashes)
        if failed:
            errs.append(f"{failed} timed passes returned other content hashes")
        return errs, failed

    def _check_outputs(self, finalized, outs) -> list[str]:
        def load(n):
            return pd.read_parquet(os.path.join(self.dir, f"ref_{n}.parquet"))

        errs = []
        tier_cols = ["cnt", "sum_v", "vmin", "vmax", "mean", "std"]
        tiers = {}
        for t in TIER_ORDER:
            got = _epoch_cols(finalized[t], "bucket_ts").select(*KEYS, "bucket_ts", *tier_cols).toPandas()
            exp = load(f"rollup_{t}").rename(columns={"s1": "sum_v"})
            errs += compare(f"rollup_{t}", got, exp, ["source", "bucket_ts"], exact=tier_cols)
            tiers[t] = exp
        z = _epoch_cols(outs["zscore"], "bucket_ts").select(
            *KEYS, "bucket_ts", "cnt", "gap_filled", "mean", "roll_mean", "roll_std", "score", "label"
        ).toPandas()
        zr = load("zscore")
        errs += compare(
            "zscore", z, zr, ["source", "bucket_ts"],
            exact=("cnt", "gap_filled", "mean"), close=("roll_mean", "roll_std", "score"),
        )
        if len(z) == len(zr):
            z, zr = _sorted(z, ["source", "bucket_ts"]), _sorted(zr, ["source", "bucket_ts"])
            # a label may flip only where the score sits on the threshold
            near = np.abs(zr["score"].to_numpy() - ZSCORE_K) <= 10 * ref.SCORE_RTOL * ZSCORE_K
            if ((z["label"].to_numpy() != zr["label"].to_numpy()) & ~near).any():
                errs.append("zscore.label: differs from reference")
        e = _epoch_cols(outs["ewma"], "bucket_ts").select(
            *KEYS, "bucket_ts", "mean", "ewma_level", "resid"
        ).toPandas()
        errs += compare(
            "ewma", e, load("ewma"), ["source", "bucket_ts"],
            exact=("mean",), close=("ewma_level", "resid"),
        )
        errs += self._check_gorilla(outs["gorilla"], tiers["1m"])
        return errs

    @staticmethod
    def _check_gorilla(packed: DataFrame, m1: pd.DataFrame) -> list[str]:
        expected = ref.day_blocks(m1)
        rows = _epoch_cols(packed, "chunk_start").select(*KEYS, "chunk_start", "n_points", "block").collect()
        if len(rows) != len(expected):
            return [f"gorilla: {len(rows)} blocks, reference has {len(expected)}"]
        for r in rows:
            exp = expected.get((r["source"], r["chunk_start"]))
            ts, bits = ref.gorilla_decode(bytes(r["block"]))
            if (
                exp is None
                or r["n_points"] != len(exp[0])
                or not np.array_equal(ts, exp[0])
                or not np.array_equal(bits, exp[1])
            ):
                return [f"gorilla: block ({r['source']}, {r['chunk_start']}) does not decode to the 1m means"]
        return []


# ------------------------------------------------------------ ingest + refresh


class IngestRefresh:
    """A continuous aggregate built from ``HISTORY_DAYS`` of history (1m days
    before ``COMPACT_DAY`` compacted to Gorilla blocks), then fed hourly
    micro-batches, ~10% of each batch's rows one day late. Every ``refresh``
    is followed by one ``range_query`` whose range spans packed and hot days
    and minute, hour and day tiles."""

    HISTORY_DAYS = 7
    COMPACT_DAY = 5
    LATE_PCT = 10

    def __init__(self, name: str, work: str, seed: int, history_rows: int, batch_rows: int, batches: int):
        self.name = name
        self.dir = os.path.join(work, f"{name}-seed{seed}")
        self.seed = seed
        self.history_rows = history_rows
        self.batch_rows = batch_rows
        self.n_batches = batches
        self.params = {"history_rows": history_rows, "batch_rows": batch_rows, "batches": batches}
        self.inputs = os.path.join(self.dir, "input")
        self.history = os.path.join(self.inputs, "history")
        self.prime_history = os.path.join(self.inputs, "prime")
        self.batches = os.path.join(self.inputs, "batches")
        self.manifest = os.path.join(self.dir, "manifest.json")
        self.rows_per_pass = batch_rows
        self.ops_per_pass = 2  # a refresh and a query
        self.store = None
        self.ca = None
        self.next_batch = 0
        self.queries: list[tuple[int, int, int, pd.DataFrame]] = []  # (last batch, t0, t1, result)
        self.refresh_s: list[float] = []
        self.query_s: list[float] = []

    def prepare(self, spark) -> None:
        # stores left by an earlier run go now, not inside a timed round
        for d in glob.glob(os.path.join(self.dir, "store-*")):
            shutil.rmtree(d)
        if self.inputs_ok():
            return
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        for path, rows in ((self.history, self.history_rows), (self.prime_history, PRIME_ROWS)):
            sequences(
                spark, rows, self.HISTORY_DAYS * 1440, seed=self.seed, with_tokens=False, partitions=8
            ).write.parquet(path)
        # all batches from one generator pass: minute i % (60 * batches)
        # puts each row in one hour of the ingest window; that hour is its batch
        b = sequences(
            spark, self.n_batches * self.batch_rows, 60 * self.n_batches,
            seed=self.seed + 1, with_tokens=False, partitions=8,
        )
        offset = F.unix_timestamp("ingest_ts") - F.lit(EPOCH_S)
        late = (F.abs(F.xxhash64("doc_id", F.lit(self.seed))) % 100) < self.LATE_PCT
        shift = F.lit(self.HISTORY_DAYS * DAY_S) - F.when(late, DAY_S).otherwise(0)
        (
            b.withColumn("batch", (offset / 3600).cast("int"))
            .withColumn("ingest_ts", F.timestamp_seconds(F.unix_timestamp("ingest_ts") + shift))
            .withColumn("doc_id", F.concat(F.lit("batch-"), "doc_id"))
            .write.partitionBy("batch")
            .parquet(self.batches)
        )
        write_manifest(self.inputs, self.manifest, self.params)

    def inputs_ok(self) -> bool:
        return verify_manifest(self.inputs, self.manifest, self.params)

    def build(self, spark, round_no, history=None) -> None:
        """A fresh store per set-up round (an empty directory: ``prepare``
        removed old ones, untimed): refresh with the history, then
        compact the 1m tier's days before ``COMPACT_DAY``, the bulk of the
        store, to Gorilla blocks."""
        self.store = os.path.join(self.dir, f"store-{round_no}")
        self.ca = ContinuousAggregate(spark, self.store, KEYS, "ingest_ts", "n_tok")
        self.ca.refresh(spark.read.parquet(history or self.history))
        self.ca.compact("1m", (EPOCH + dt.timedelta(days=self.COMPACT_DAY)).date())
        self.next_batch = 0

    def prime(self, spark, tracer) -> None:
        """The cold part of set-up: build a store from a small history and
        run one refresh and query on it, so that the JIT and codegen cost of
        this workload's calls is paid here and not in the timed rounds."""
        self.build(spark, "prime", self.prime_history)
        self.run_pass(spark, tracer, None, record=False)

    def has_next(self) -> bool:
        return self.next_batch < self.n_batches

    def query_range(self, k: int) -> tuple[dt.datetime, dt.datetime]:
        """From the middle of compacted day 3 to 37 minutes into batch k's
        hour: a packed minute edge, hour and day tiles, hot hour and minute
        edges."""
        t0 = EPOCH + dt.timedelta(days=3, hours=7, minutes=13)
        t1 = EPOCH + dt.timedelta(days=self.HISTORY_DAYS, hours=k, minutes=37)
        return t0, t1

    def run_pass(self, spark, tracer, pass_id, record=True) -> None:
        k = self.next_batch
        self.next_batch += 1
        batch = spark.read.parquet(os.path.join(self.batches, f"batch={k}"))
        t0, t1 = self.query_range(k)
        with tracer.span("pass", pass_id):
            with tracer.span("continuous.refresh") as refresh:
                affected = self.ca.refresh(batch)
            refresh.counters["rows_in"] = self.batch_rows
            refresh.counters["days_rewritten"] = sum(affected.values())
            with tracer.span("continuous.query") as query:
                res = self.ca.range_query(t0, t1).toPandas()
            if tracer.enabled:
                self._traced_unpack(spark, tracer, t0, t1)
        if record and not tracer.enabled:
            self.refresh_s.append(refresh.wall_s)
            self.query_s.append(query.wall_s)
        if record:
            self.queries.append((k, int((t0 - EPOCH).total_seconds()), int((t1 - EPOCH).total_seconds()), res))

    def _traced_unpack(self, spark, tracer, t0, t1) -> None:
        """The Gorilla decode inside the query, forced alone: the query's 1m
        read unpacks every packed day from ``t0``'s to ``t1``'s, so unpack
        the same days with ``unpack_partials``, as the store's reader does."""
        cols = [f"block_{c}" for c in PARTIAL_COLS]
        packed = spark.read.parquet(self.ca._packed_path("1m")).where(
            F.col("_day").between(F.lit(t0.date()), F.lit(t1.date()))
        )
        with tracer.span("gorilla") as s:
            points = unpack_partials(packed, KEYS, PARTIAL_COLS, set(PARTIAL_COLS))
            points.agg(*_hash_aggs(points)).first()
        r = packed.agg(sum(F.sum(F.length(c)) for c in cols).alias("b"), F.sum("n_points").alias("p")).first()
        s.counters["block_bytes"] = r["b"]
        s.counters["bits_per_point"] = 8.0 * r["b"] / (r["p"] * len(cols))

    def verify(self, spark) -> None:
        """Nothing to verify before the timed section: the checks need the
        refreshed store (see :meth:`check`)."""

    def check(self, spark) -> tuple[list[str], int]:
        """Each recorded range query against a direct aggregate of the raw
        rows, then the stored tiers against a one-shot ``rollup_tiers`` over
        history and every applied batch, bit for bit."""
        errs: list[str] = []
        failed = 0
        raw = pd.concat(
            [
                ref.read_raw(self.history).assign(batch=-1),
                ref.read_raw(self.batches, ("source", "n_tok", "ingest_ts", "batch")),
            ],
            ignore_index=True,
        )
        for k, t0, t1, res in self.queries:
            exp = ref.range_aggregate(raw[raw["batch"] <= k], EPOCH_S + t0, EPOCH_S + t1)
            exp = exp.rename(columns={"s1": "sum_v"})
            e = compare(f"range_query[{k}]", res, exp, ["source"], exact=("cnt", "sum_v", "vmin", "vmax", "mean", "std"))
            if e:
                failed += 1
                errs += e[:1]
        cols = ["doc_id", "tokens", "n_tok", "source", "ingest_ts"]
        applied = spark.read.parquet(self.batches).where(F.col("batch") < self.next_batch).select(*cols)
        _, oneshot = rollup_tiers(
            spark.read.parquet(self.history).select(*cols).unionByName(applied), "ingest_ts", "n_tok", KEYS
        )
        for tier in TIER_ORDER:
            want = oneshot[tier].select(*KEYS, "bucket_ts", *PARTIAL_COLS)
            have = self.ca.read_partials(tier).select(*KEYS, "bucket_ts", *PARTIAL_COLS)
            if want.exceptAll(have).limit(1).count() or have.exceptAll(want).limit(1).count():
                errs.append(f"stored {tier} tier differs from a one-shot rollup")
                failed = 2 * len(self.queries)  # no way to tell which refresh broke it
        return errs, failed

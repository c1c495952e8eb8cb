"""End-to-end checkpointed rollup + scoring pipeline (SURVEY.md §7 steps 1-6).

Stage graph (each stage's output is a checkpoint table; a completed stage is
SKIPPED on re-run — resumability per the north rule):

  scan sequences
    └─ partials_1m       (exact integer partial states; partitioned by source)
         ├─ rollup_1m    (finalize)
         ├─ partials_1h  (re-aggregate 1m partials)   ─ rollup_1h
         │    └─ partials_1d (re-aggregate 1h)        ─ rollup_1d
         ├─ gapfill_1m   (LOCF on mean)
         │    └─ scores_1m (sliding z-score of the filled means, inner-joined
         │                  with the EWMA residual of the unfilled means)
         └─ packed_1m    (Gorilla blocks per source/day)

The downstream of the tiers is :func:`flagship_outputs`, the one definition
of the flagship dataflow that the pipeline and ``bench_job`` share.

Checkpoint marker = parquet ``_SUCCESS`` (Iceberg snapshot when a catalog is
configured — sources/tables.py seam). Lineage: every stage appends
(run_id, stage, rows_out, wall_s, partitions) plus per-source row counts to
the ``metrics`` table; re-runs are idempotent (stage outputs are atomic
overwrite-or-skip). The reference analog is the compute-if-absent model cache
(/root/reference/prediction/lstm_model.py:386-391, S10) generalized to every
dataflow stage.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.gorilla import pack_rollup
from ..operators.gapfill import gap_fill
from ..operators.rollup import TIER_ORDER, finalize, reaggregate, rollup_partials
from ..operators.scoring import ewma_residual_chunked, sliding_zscore
from ..sources.tables import TableProvider, read_json, write_json


def flagship_outputs(
    finalized: dict[str, DataFrame],
    filled: DataFrame,
    keys: list[str],
    w: int = 30,
    k: float = 3.0,
    alpha: float = 0.2,
) -> dict[str, DataFrame]:
    """The flagship dataflow downstream of the rollup tiers: sliding z-score
    (w, k) of the LOCF-filled 1m means ``filled``, EWMA residual (α) and
    Gorilla day blocks of the unfilled 1m means, and the 1h and 1d tiers.
    ``finalized`` is :func:`rollup_tiers`' first result."""
    m1 = finalized["1m"]
    return {
        "zscore": sliding_zscore(filled, keys, "bucket_ts", "mean", w=w, k=k),
        "ewma": ewma_residual_chunked(
            m1.select(*keys, "bucket_ts", "mean"), keys, "bucket_ts", "mean", alpha=alpha
        ),
        "gorilla": pack_rollup(m1, keys, "mean", chunk="day"),
        "rollup_1h": finalized["1h"],
        "rollup_1d": finalized["1d"],
    }


class RollupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        keys: list[str] | None = None,
        ts_col: str = "ingest_ts",
        val_col: str = "n_tok",
        zscore_w: int = 30,
        zscore_k: float = 3.0,
        ewma_alpha: float = 0.2,
    ):
        self.spark = spark
        self.tables = TableProvider(spark, base_dir)
        self.keys = keys or ["source"]
        self.ts_col, self.val_col = ts_col, val_col
        self.zscore_w, self.zscore_k, self.ewma_alpha = zscore_w, zscore_k, ewma_alpha
        self.run_id = uuid.uuid4().hex[:12]
        self._metrics: list[tuple] = []
        self.config = {
            "keys": self.keys,
            "ts_col": ts_col,
            "val_col": val_col,
            "zscore_w": zscore_w,
            "zscore_k": zscore_k,
            "ewma_alpha": ewma_alpha,
        }

    def _check_manifest(self, resume: bool) -> None:
        """Checkpoints are only valid for the config that produced them: a
        resume with different parameters must fail loudly, not silently serve
        stale outputs. Routed through the Hadoop FS API so the guard holds on
        non-local backends too (round-1 version used os.path → silently
        no-op'd on hdfs://, serving stale checkpoints)."""
        path = f"{self.tables.base_dir}/_manifest.json"
        stored = read_json(self.spark, path)
        if resume and stored is not None and stored != self.config:
            raise ValueError(
                f"checkpoint dir {self.tables.base_dir} was produced with "
                f"different parameters ({stored} != {self.config}); use a "
                "new output dir or resume=False"
            )
        write_json(self.spark, path, self.config)

    # ------------------------------------------------------------- plumbing
    def _stage(self, name: str, build, partition_by: list[str] | None = None, resume: bool = True) -> DataFrame:
        """Compute-if-absent stage: skip when the checkpoint exists."""
        t0 = time.time()
        if resume and self.tables.exists(name):
            out = self.tables.read(name)
            self._metrics.append((self.run_id, name, "skipped", out.count(), time.time() - t0))
            return out
        df = build()
        self.tables.write(df, name, partition_by=partition_by)
        out = self.tables.read(name)
        rows = out.count()
        self._metrics.append((self.run_id, name, "computed", rows, time.time() - t0))
        return out

    def _flush_metrics(self, per_key_counts: DataFrame | None = None) -> None:
        rows = [
            {"run_id": r, "stage": s, "status": st, "rows_out": int(n), "wall_s": float(w)}
            for (r, s, st, n, w) in self._metrics
        ]
        mdf = self.spark.createDataFrame(rows)
        self.tables.write(mdf, f"metrics/{self.run_id}", mode="overwrite")
        if per_key_counts is not None:
            self.tables.write(per_key_counts, f"lineage/{self.run_id}", mode="overwrite")

    # ------------------------------------------------------------------ run
    def run(self, sequences: DataFrame, resume: bool = True) -> dict[str, DataFrame]:
        out: dict[str, DataFrame] = {}
        keys = self.keys
        self._check_manifest(resume)

        partials = {}
        partials["1m"] = self._stage(
            "partials_1m",
            lambda: rollup_partials(sequences, self.ts_col, self.val_col, keys, "1m"),
            partition_by=keys,
            resume=resume,
        )
        for prev, cur in zip(TIER_ORDER, TIER_ORDER[1:]):
            partials[cur] = self._stage(
                f"partials_{cur}",
                lambda p=prev, c=cur: reaggregate(partials[p], keys, c),
                partition_by=keys,
                resume=resume,
            )
        for tier in TIER_ORDER:
            out[f"rollup_{tier}"] = self._stage(
                f"rollup_{tier}",
                lambda t=tier: finalize(partials[t], keys, t),
                partition_by=keys,
                resume=resume,
            )
        out["gapfill_1m"] = self._stage(
            "gapfill_1m",
            lambda: gap_fill(out["rollup_1m"], keys, "1m", ["mean"], method="locf"),
            partition_by=keys,
            resume=resume,
        )
        flagship = flagship_outputs(
            {t: out[f"rollup_{t}"] for t in TIER_ORDER},
            out["gapfill_1m"],
            keys,
            self.zscore_w,
            self.zscore_k,
            self.ewma_alpha,
        )
        out["packed_1m"] = self._stage(
            "packed_1m", lambda: flagship["gorilla"], resume=resume
        )
        out["scores_1m"] = self._stage(
            "scores_1m",
            lambda: self._score(flagship),
            partition_by=keys,
            resume=resume,
        )
        # per-key lineage row counts over the base tier (north rule)
        per_key = (
            out["rollup_1m"]
            .groupBy(*keys)
            .agg(F.sum("cnt").alias("raw_rows"), F.count("*").alias("rollup_points"))
            .withColumn("run_id", F.lit(self.run_id))
        )
        self._flush_metrics(per_key)
        out["metrics"] = self.tables.read(f"metrics/{self.run_id}")
        out["lineage"] = self.tables.read(f"lineage/{self.run_id}")
        return out

    def _score(self, flagship: dict[str, DataFrame]) -> DataFrame:
        z = flagship["zscore"].select(
            *self.keys, "bucket_ts", "mean",
            F.col("score").alias("z_score"), F.col("label").alias("z_label"),
        )
        e = flagship["ewma"].select(*self.keys, "bucket_ts", F.col("score").alias("ewma_score"))
        # same-key equi-join of two rollup-sized frames (J1 attach semantics);
        # inner, so the filled minutes, which have no EWMA score, drop out
        return z.join(e, [*self.keys, "bucket_ts"], "inner")

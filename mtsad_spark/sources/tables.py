"""Table provider seam: Iceberg catalog when available, parquet fallback.

The production target (BASELINE.json input_hint) is an Iceberg table of
pre-tokenized sequences read through the Spark SQL catalog
(``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``). The
sandbox has no Iceberg runtime jar, so the same narrow API is backed by
parquet directories; the engine code never branches on the backend.

Both backends keep the properties the engine relies on:
  - atomic visibility of a completed write (Iceberg snapshot commit /
    parquet ``_SUCCESS`` marker),
  - partition pruning on the layout keys (Iceberg hidden partitioning /
    parquet hive-style ``partitionBy`` directories),
  - schema-on-read with explicit StructType.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def fs_path(spark: SparkSession, p: str):
    """(Hadoop FileSystem, Path) for ``p`` under any storage scheme (plain
    local paths, file://, hdfs://, s3a://). Every filesystem probe, read,
    write or delete outside the DataFrame reader/writer goes through here:
    ``os.path`` sees only the local filesystem, so a probe of a
    scheme-qualified path is always False."""
    path = spark._jvm.org.apache.hadoop.fs.Path(p)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def read_json(spark: SparkSession, p: str):
    """The JSON document stored at ``p`` (any scheme), or None if absent."""
    fs, path = fs_path(spark, p)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        return json.loads(
            spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()


def write_json(spark: SparkSession, p: str, obj) -> None:
    """Replace the JSON document at ``p`` atomically: write a temp file,
    then rename it over ``p``, so a crash leaves the old or the new
    document, never a torn one."""
    fs, path = fs_path(spark, p)
    _, tmp = fs_path(spark, p + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj), "utf-8"))
    finally:
        out.close()
    # FileContext's rename with OVERWRITE (a plain FileSystem.rename
    # refuses an existing destination on HDFS)
    jvm = spark._jvm
    rename = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(rename, 1)
    opts[0] = rename.OVERWRITE
    jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        path.toUri(), spark._jsc.hadoopConfiguration()
    ).rename(tmp, path, opts)


def _iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None (sandbox default)."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        return None
    for k, v in confs:
        if k.startswith("spark.sql.catalog.") and v.endswith("SparkCatalog"):
            return k.split(".", 3)[3]
    return None


class TableProvider:
    """Read/write named tables behind one seam."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.catalog = _iceberg_catalog(spark)

    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def exists(self, name: str) -> bool:
        if self.catalog:
            return self.spark.catalog.tableExists(f"{self.catalog}.{name}")
        fs, marker = fs_path(self.spark, os.path.join(self.path(name), "_SUCCESS"))
        return fs.exists(marker)

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
        cluster_by: list[str] | None = None,
    ) -> None:
        """``cluster_by`` range-clusters the data before writing
        (repartitionByRange + sortWithinPartitions): every output file then
        covers a narrow, near-disjoint range of the cluster columns, so the
        parquet min/max statistics (or Iceberg's file-level metrics) let a
        value-range predicate skip whole files/row groups at the scan — the
        second pruning axis next to hive/hidden partitioning, and the one
        that works for high-cardinality columns partitioning can't hold.
        (Iceberg's SORTED BY table order expresses the same intent
        declaratively; the explicit pre-sort keeps parity on the parquet
        backend.)"""
        if cluster_by:
            df = df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)
        if self.catalog:
            w = df.writeTo(f"{self.catalog}.{name}")
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(self.path(name))

    def read(self, name: str) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(f"{self.catalog}.{name}")
        return self.spark.read.parquet(self.path(name))

    def drop_partitions_before(
        self, name: str, partition_col: str, cutoff: str
    ) -> dict[str, list[str]]:
        """Retention enforcement for a time-partitioned tier table: drop every
        ``partition_col=<value>`` partition with value < ``cutoff``
        (lexicographic compare — ISO dates/hours sort correctly by design).

        100-TB shape: retention is PARTITION METADATA work, never a row-level
        rewrite — on Iceberg a ``DELETE WHERE`` on the partition column
        (which its metadata resolves to whole-file drops), on the parquet
        backend a recursive delete of the hive partition directories through
        the Hadoop FS API (so it works on hdfs://, s3a://, file:// alike).
        Returns {"dropped": [...], "kept": [...]} partition values so callers
        can record what expired (no silent deletes). Raises if the table has
        no such partition layout — retention against a non-partitioned table
        would otherwise silently do nothing.

        Comparison semantics (ADVICE r04): directory names are Hive-ESCAPED
        (':' → ``%3A`` in hour-granularity values), so values are URL-decoded
        BEFORE the lexicographic compare and reported decoded. The compare is
        correct exactly for values whose decoded form orders lexicographically
        — ISO dates (``2026-01-31``), hours (``2026-01-31 23:00:00``) and
        zero-padded numerics; arbitrary strings are the caller's risk."""
        from urllib.parse import unquote

        if self.catalog:
            full = f"{self.catalog}.{name}"
            # verify the partition spec actually contains partition_col —
            # otherwise DELETE degrades to a row-level rewrite (or a no-op
            # typo) and the "metadata-only" promise is silently broken.
            # DESCRIBE output differs by path (code-review r5): the Hive
            # format lists column NAMES under '# Partition Information';
            # DSv2/Iceberg lists 'Part N' rows whose data_type holds the
            # TRANSFORM (e.g. 'days(ts)', 'ts') — match the column name
            # inside the transform expression there.
            import re as _re

            part_exprs, in_part = [], False
            for row in self.spark.sql(f"DESCRIBE TABLE {full}").collect():
                col = (row.col_name or "").strip()
                if col.startswith("# Partition"):  # both section spellings
                    in_part = True
                elif col.startswith("# col_name") or not col:
                    continue  # Hive sub-header / blank separators
                elif col.startswith("#"):
                    in_part = False  # next section
                elif in_part:
                    dt_val = (getattr(row, "data_type", "") or "").strip()
                    part_exprs.append(dt_val if col.startswith("Part ") else col)
            hit = any(
                _re.search(rf"(^|\b){_re.escape(partition_col)}\b", e)
                for e in part_exprs
            )
            if not hit:
                raise ValueError(
                    f"iceberg table {full!r} is not partitioned by "
                    f"{partition_col!r} (partition spec: {part_exprs}); "
                    "retention needs a partition on the retention column"
                )
            # enumerate values from the PARTITIONS METADATA table (manifest
            # read), not a corpus-proportional DISTINCT over the data; fall
            # back to the scan only if the metadata schema doesn't expose the
            # identity field (non-identity transforms)
            try:
                vals = [
                    str(r[0])
                    for r in self.spark.sql(
                        f"SELECT DISTINCT partition.{partition_col} "
                        f"FROM {full}.partitions"
                    ).collect()
                ]
            except Exception:
                vals = [
                    str(r[0])
                    for r in self.spark.sql(
                        f"SELECT DISTINCT {partition_col} FROM {full}"
                    ).collect()
                ]
            dropped = sorted(v for v in vals if v < cutoff)
            kept = sorted(v for v in vals if v >= cutoff)
            self.spark.sql(
                f"DELETE FROM {full} WHERE {partition_col} < '{cutoff}'"
            )
            return {"dropped": dropped, "kept": kept}
        fs, root = fs_path(self.spark, self.path(name))
        prefix = f"{partition_col}="
        dropped, kept = [], []
        found_layout = False
        for st in fs.listStatus(root):
            if not st.isDirectory():
                continue
            dirname = st.getPath().getName()
            if not dirname.startswith(prefix):
                continue
            found_layout = True
            value = unquote(dirname[len(prefix):])
            if value < cutoff:
                fs.delete(st.getPath(), True)
                dropped.append(value)
            else:
                kept.append(value)
        if not found_layout:
            raise ValueError(
                f"table {name!r} has no {partition_col}= partition directories; "
                "retention needs a time-partitioned layout "
                "(write(..., partition_by=[...]))"
            )
        return {"dropped": sorted(dropped), "kept": sorted(kept)}

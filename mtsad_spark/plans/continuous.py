"""Incrementally-maintained continuous aggregates (north_star: "continuous
aggregates ... at 1m/1h/1d retention tiers" over the 10^12-row tokenized
table).

A from-scratch tier rebuild re-scans the whole raw table; production rollup
engines (TimescaleDB continuous aggregates, M3 downsamplers) instead MERGE
each new ingest batch's partial states into the stored tier tables, touching
only the (key, bucket) cells the batch lands in. The algebra here makes that
exact: LONG partials (cnt, s1, s2, vmin, vmax) merge associatively
(operators/rollup.merge_partials), so N incremental refreshes are
bitwise-equal to one full rebuild — asserted in tests and oracled in
driver_queries.continuous_aggregate_refresh.

100-TB shape:

* The stored tier tables are partitioned by UTC day. A refresh reads ONLY
  the stored partitions the batch's buckets fall in (partition-pruned scan;
  the affected-day list is a driver-side collect bounded by the batch's time
  span in days, never by rows) and rewrites ONLY those partitions
  (``spark.sql.sources.partitionOverwriteMode=dynamic``).
* Each refresh aggregates the raw batch once: :func:`batch_merge` keeps the
  batch's 1m partials cached while the 1h/1d tiers re-aggregate them and
  the touched-day list is collected, once for all tiers. It is the one
  batch side of the merge; this parquet store and the Iceberg sink
  (streaming/continuous_stream.py) keep only their read, barrier and
  commit. Iceberg commits each tier snapshot-atomically; the parquet
  dynamic partition overwrite is per-partition atomic.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mtsad_spark.operators.rollup import (
    PARTIAL_COLS,
    TIER_ORDER,
    finalize,
    merge_partials,
    rollup_tiers,
)
from mtsad_spark.sources.tables import fs_path


@contextmanager
def batch_merge(
    batch: DataFrame,
    keys: list[str],
    ts_col: str,
    val_col: str,
    exact_int: bool = True,
):
    """The batch side of one incremental refresh, shared by every store.
    Yields ``(days, merge)``: the ``datetime.date`` list the batch touches,
    and ``merge(tier, stored)`` → the tier's batch partials merged with
    ``stored`` (that tier's stored partials for ``days``, or None for a new
    table), with a ``_day`` column. The 1m partials stay persisted until
    the block exits, so the batch is evaluated once per refresh."""
    partials = rollup_tiers(batch, ts_col, val_col, keys, exact_int=exact_int)[1]
    base = partials["1m"].persist()
    # try/finally (ADVICE r05): a failed merge/write must not leak the
    # cached batch partials into the session
    try:
        # date_trunc to an hour or a day never changes the date: every
        # tier touches the same days, so read them off the smallest tier
        day_rows = partials["1d"].select(F.to_date("bucket_ts")).distinct().collect()
        days = [r[0] for r in day_rows]

        def merge(tier: str, stored: DataFrame | None) -> DataFrame:
            new = partials[tier]
            out = new if stored is None else merge_partials(stored, new, keys, tier)
            return out.withColumn("_day", F.to_date("bucket_ts"))

        yield days, merge
    finally:
        base.unpersist()


class ContinuousAggregate:
    """Stored 1m/1h/1d tier tables with incremental refresh."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        keys: list[str],
        ts_col: str,
        val_col: str,
        exact_int: bool = True,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.keys = keys
        self.ts_col = ts_col
        self.val_col = val_col
        self.exact_int = exact_int

    def _path(self, tier: str) -> str:
        return os.path.join(self.base_dir, f"agg_{tier}")

    def _packed_path(self, tier: str) -> str:
        return os.path.join(self.base_dir, f"agg_{tier}_packed")

    def _long_cols(self) -> set[str]:
        # rollup_partials types: cnt is always LONG; the value partials are
        # LONG in exact_int mode, DOUBLE otherwise — determines which blocks
        # pack bit-reinterpreted int64 vs float64
        return set(PARTIAL_COLS) if self.exact_int else {"cnt"}

    def _days_at(self, path_str: str) -> set[str] | None:
        """ISO day strings with a stored ``_day=`` partition dir at
        ``path_str``, or None if the table does not exist. FS metadata only —
        never a data scan."""
        fs, path = fs_path(self.spark, path_str)
        if not fs.exists(path):
            return None
        days = {
            st.getPath().getName()[len("_day=") :]
            for st in fs.listStatus(path)
            if st.isDirectory() and st.getPath().getName().startswith("_day=")
        }
        return days or None

    def _partition_days(self, tier: str) -> set[str] | None:
        """Days present across BOTH layouts (hot row-form ∪ cold packed) —
        what "the tier stores day d" means to readers, hole detection and
        refresh's merge-vs-create decision."""
        row = self._days_at(self._path(tier))
        packed = self._days_at(self._packed_path(tier))
        if row is None and packed is None:
            return None
        return (row or set()) | (packed or set())

    def _exists(self, tier: str) -> bool:
        # NOT a _SUCCESS probe: the dynamic-partition-overwrite commit
        # protocol skips the marker, so rely on the partition layout itself
        # (a missed probe here silently turns "merge" into "replace" — the
        # r5 debugging scar this comment commemorates)
        return self._partition_days(tier) is not None

    def _overwrite_days(self, df: DataFrame, path: str) -> None:
        # replaces only the _day partitions present in df. Cluster by the partition column before the write (guide §6 output
        # sizing): without it every shuffle partition emits a file into
        # every day dir it touches (~tasks × days tiny files per refresh);
        # with it each day lands in one task → one right-sized file per day
        (
            df.repartition("_day")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_day")
            .parquet(path)
        )

    def _day_filter(self, df: DataFrame, day_lo, day_hi, days) -> DataFrame:
        import datetime as _dt

        if days is not None:
            df = df.filter(
                F.col("_day").isin([_dt.date.fromisoformat(str(d)) for d in days])
            )
        if day_lo is not None:
            df = df.filter(F.col("_day") >= F.lit(day_lo))
        if day_hi is not None:
            df = df.filter(F.col("_day") <= F.lit(day_hi))
        return df

    def _read_tier(self, tier: str, day_lo=None, day_hi=None, days=None) -> DataFrame:
        """Stitched partial-state read across the HOT row-form and COLD
        Gorilla-packed layouts, partition-pruned by ``_day`` in both.

        Precedence: a day present in the row-form layout WINS over the same
        day's packed copy. That one rule makes the whole lifecycle
        crash-consistent: ``compact`` writes packed before deleting row
        dirs (a crash between leaves both copies — reads use the row copy,
        re-compact converges), and a late ``refresh`` into an
        already-packed day writes the merged result as row-form (the stale
        packed day is shadowed until the next compact re-packs it).

        The exclusion predicate is ``isin`` over the ROW-form day list —
        bounded by the hot retention window (days, not data), so the filter
        stays small even when the packed history spans years."""
        import datetime as _dt

        row_days = self._days_at(self._path(tier)) or set()
        packed_days = self._days_at(self._packed_path(tier)) or set()
        if not row_days and not packed_days:
            raise ValueError(
                f"tier {tier} has no stored table under {self.base_dir}"
            )
        frames: list[DataFrame] = []
        if row_days:
            df = self._day_filter(
                self.spark.read.parquet(self._path(tier)), day_lo, day_hi, days
            )
            frames.append(df.select(*self.keys, "bucket_ts", *PARTIAL_COLS))
        if packed_days - row_days:
            from mtsad_spark.functions.gorilla import unpack_partials

            pk = self.spark.read.parquet(self._packed_path(tier))
            if row_days:
                pk = pk.filter(
                    ~F.col("_day").isin(
                        [_dt.date.fromisoformat(d) for d in sorted(row_days)]
                    )
                )
            pk = self._day_filter(pk, day_lo, day_hi, days)
            frames.append(
                unpack_partials(
                    pk, self.keys, PARTIAL_COLS, self._long_cols()
                ).select(*self.keys, "bucket_ts", *PARTIAL_COLS)
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def compact(self, tier: str, before_day) -> int:
        """Move immutable day-partitions strictly older than ``before_day``
        from the hot row-form layout into Gorilla-packed binary columns
        (north_star: "rollup points stored as packed binary columns") —
        one row per (keys..., day), one delta-of-delta/XOR block per
        partial column (functions/gorilla.pack_partials). LONG partials
        pack bit-reinterpreted, so the cold copy is BITWISE the hot one;
        every read path (read_partials / read / range_query) stitches both
        layouts transparently via :meth:`_read_tier`.

        Protocol: write packed days (dynamic partition overwrite), THEN
        metadata-only-delete the row-form day dirs. A crash in between
        leaves both copies; row-form precedence keeps reads correct and a
        re-run converges (idempotent). Pick ``before_day`` at or behind the
        ingest lateness horizon; a late refresh into a packed day still
        merges correctly (against the unpacked copy) — it just resurrects
        the day as row-form until the next compact.

        Retention: expire COLD history with
        ``sources.tables.drop_partitions_before`` on ``_packed_path(tier)``
        exactly like the hot path. Raw-table readers that bypass this class
        (``TableProvider.read`` on an ``agg_*`` path) see only the hot
        layout — a compacted store must be read through
        :meth:`read_partials` / :meth:`read` / :meth:`range_query`.
        Returns the number of days compacted."""
        import datetime as _dt

        from mtsad_spark.functions.gorilla import pack_partials

        cut = (
            before_day.isoformat()
            if isinstance(before_day, _dt.date)
            else str(before_day)
        )
        row_days = self._days_at(self._path(tier)) or set()
        todo = sorted(d for d in row_days if d < cut)
        if not todo:
            return 0
        rows = self._day_filter(
            self.spark.read.parquet(self._path(tier)), None, None, todo
        ).select(*self.keys, "bucket_ts", *PARTIAL_COLS)
        packed = pack_partials(
            rows, self.keys, PARTIAL_COLS, self._long_cols(), chunk="day"
        )
        self._overwrite_days(
            packed.withColumn("_day", F.to_date("chunk_start")),
            self._packed_path(tier),
        )
        # the packed write above is a completed action on a DIFFERENT path,
        # so deleting the source dirs needs no checkpoint barrier
        for d in todo:
            fs, day_dir = fs_path(self.spark, os.path.join(self._path(tier), f"_day={d}"))
            fs.delete(day_dir, True)
        return len(todo)

    def refresh(self, batch: DataFrame) -> dict[str, int]:
        """Merge one ingest batch into every tier table. Returns the number
        of affected day-partitions per tier (the lineage metric callers
        record next to row counts)."""
        with batch_merge(
            batch, self.keys, self.ts_col, self.val_col, self.exact_int
        ) as (days, merge):
            for tier in TIER_ORDER:
                if self._exists(tier):
                    # partition-pruned, and stitched across the hot/packed
                    # layouts: a late batch landing on a COMPACTED day
                    # merges against the unpacked cold copy (the merged
                    # day is rewritten as row-form, shadowing the stale
                    # packed copy until the next compact). localCheckpoint
                    # materializes the merge BEFORE the overwrite: Spark
                    # (rightly) refuses to overwrite a file-source path
                    # still present in the writing plan's lineage.
                    stored = self._read_tier(tier, days=days)
                    merged = merge(tier, stored).localCheckpoint(eager=True)
                else:
                    merged = merge(tier, None)
                self._overwrite_days(merged, self._path(tier))
        return {tier: len(days) for tier in TIER_ORDER}

    def read_partials(self, tier: str) -> DataFrame:
        return self._read_tier(tier)

    def read(self, tier: str) -> DataFrame:
        """User-facing rollup points for one tier."""
        return finalize(self.read_partials(tier), self.keys, tier)

    def range_query(self, t0, t1, allow_partial: bool = False) -> DataFrame:
        """Tier-stitched aggregate over [t0, t1) against the STORED tables —
        the continuous-aggregate read path end-to-end: full days from the
        1d table, edge hours from 1h, edge minutes from 1m, each scan
        PARTITION-PRUNED by the _day layout (the bucket_ts predicate alone
        would not prune — _day is the partition column, so the day bounds
        derived from the tiling are pushed explicitly). A query over years
        of a 10^12-row table opens only the edge days' fine-tier files plus
        the 1d files in range (PartitionFilters asserted in
        tests/test_continuous.py).

        Retention interplay (ADVICE r05, no-silent-caps): after
        drop_partitions_before expires a fine tier's old days, a range
        endpoint inside the expired region loses its minute/hour edge tiles,
        which would silently vanish from the sum. Detected here BEFORE any
        data scan: a day a fine-tier span needs that is absent from that
        tier's partition layout but present in a coarser tier's is a
        retention hole, and raises unless ``allow_partial=True`` (the
        documented opt-in for best-effort aged reads — align endpoints to
        the coarsest surviving tier instead; tested in
        test_continuous_aggregate_full_lifecycle). A day absent from EVERY
        tier is sparse data, not a hole — no error."""
        import datetime as _dt

        from mtsad_spark.operators.rollup import (
            range_tiles,
            stitched_range_aggregate,
        )

        tiles = range_tiles(t0, t1)
        if not allow_partial:
            stored = {t: self._partition_days(t) or set() for t in TIER_ORDER}
            coarser = {"1m": ["1h", "1d"], "1h": ["1d"], "1d": []}
            holes: dict[str, list[str]] = {}
            for tier in ("1m", "1h"):
                need: set[str] = set()
                for lo, hi in tiles.get(tier, []):
                    d = lo.date()
                    while d <= (hi - _dt.timedelta(seconds=1)).date():
                        need.add(d.isoformat())
                        d += _dt.timedelta(days=1)
                missing = sorted(
                    d
                    for d in need - stored[tier]
                    if any(d in stored[c] for c in coarser[tier])
                )
                if missing:
                    holes[tier] = missing
            if holes:
                raise ValueError(
                    f"range [{t0}, {t1}) needs retention-expired edge tiles: "
                    f"{holes} (fine-tier _day partitions gone while a coarser "
                    "tier still covers those days). Align the endpoints to "
                    "the coarsest surviving tier, or pass allow_partial=True "
                    "for a best-effort partial aggregate."
                )
        frames = {}
        for tier, spans in tiles.items():
            if not spans:
                continue
            lo = min(s[0] for s in spans).date()
            hi = (max(s[1] for s in spans) - _dt.timedelta(seconds=1)).date()
            frames[tier] = self._read_tier(tier, day_lo=lo, day_hi=hi)
        return stitched_range_aggregate(frames, self.keys, t0, t1)

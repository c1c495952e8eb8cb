"""Time-series joins Spark lacks natively (SURVEY.md §2.3 addenda).

The reference aligns positionally (pandas index), which the engine replaces
with explicit keys (J1-J5). The alignment shape a production time-series
store additionally needs:

* ``asof_join`` — attach to each left row the LATEST right row with
  right_ts ≤ left_ts per key (e.g. enrich raw events with the most recent
  completed rollup point). Union-window trick (tag both sides, right sorts
  before left on ties, carry right values forward) COMPOSED over coarse
  time buckets so no window over raw rows is ever partitioned by the bare
  key: per-(key, bucket) last-right partials feed a prefix carry over the
  tiny bucket frame, and the raw-row resolve window is partitioned by
  (key, bucket) — a hot key parallelizes across its buckets instead of
  funneling its whole event stream through one task (the same composition
  as ``scoring._global_row_numbers``; VERDICT r02 "what's wrong" #1).
  Semantics match pandas ``merge_asof`` (backward, exact ties allowed) and
  DuckDB ``ASOF JOIN`` (the driver oracle): the latest right ROW wins —
  null right values are carried as nulls, not skipped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _epoch(df: DataFrame, c: str) -> F.Column:
    """Order column → double (epoch seconds for timestamps). TIMESTAMP_NTZ
    has no direct double cast; hop through TIMESTAMP (session TZ is pinned
    UTC engine-wide, so the hop is deterministic)."""
    col = F.col(c)
    if dict(df.dtypes)[c].startswith("timestamp"):
        col = col.cast("timestamp")
    return col.cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    coarse_width: float = 3600.0,
    tolerance: float | None = None,
) -> DataFrame:
    """Left rows + latest-right-row values (right_ts ≤ left_ts) per key;
    right columns are null when no right row precedes the left row.

    ``tolerance`` (seconds) bounds the staleness of the match, the pandas
    ``merge_asof(tolerance=...)`` / QuestDB ``ASOF JOIN TOLERANCE``
    contract: when ``left_ts − matched_right_ts > tolerance`` the right
    columns come back null, exactly as if no right row preceded. The match
    itself is unchanged (latest preceding row, then the bound is applied)
    — a fresher-but-not-latest right row never substitutes.

    Right (keys, right_ts) should be unique per key (the rollup-series
    shape); equal right timestamps within one key make the surviving row
    deterministic only up to the right-value struct order.

    Scale shape: raw rows are windowed per (key, coarse bucket) only; the
    one bare-key window runs over the per-bucket PARTIAL frame
    (≈ time_range / coarse_width rows per key), never the events.
    """
    overlap = set(right_cols) & set(left.columns)
    if overlap:
        raise ValueError(
            f"right_cols collide with left columns: {sorted(overlap)}; "
            "rename before joining"
        )
    if tolerance is not None and tolerance <= 0:
        raise ValueError(f"tolerance must be > 0 seconds, got {tolerance}")
    internal = {
        "_asof_ts", "_asof_side", "_asof_cb", "_asof_rv", "_asof_loc",
        "_asof_carry", "_asof_part", "_asof_mt",
    }
    clash = internal & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(f"reserved internal column names present: {sorted(clash)}")

    from pyspark.sql.types import StructField, StructType

    lcols = list(left.columns)
    ltypes = dict(left.dtypes)
    lts_dtype = ltypes[left_ts]
    rts_dtype = dict(right.dtypes)[right_ts]
    # matched-right-ts field rides inside the value struct ONLY when a
    # tolerance must be applied after the carry/resolve — no-tolerance
    # callers keep their original (narrower) shuffle/cache rows
    mt_fields = (
        [StructField("_asof_mt", right.schema[right_ts].dataType)]
        if tolerance is not None
        else []
    )
    rv_type = StructType(mt_fields + [right.schema[c] for c in right_cols])
    # SQL join semantics: NULL keys/timestamps never match. Left rows with a
    # null key or null ts bypass the machinery and come back with null right
    # columns (ASOF LEFT JOIN keeps them); right rows with nulls can match
    # nothing and are dropped up front.
    null_pred = F.lit(False)
    for c in [*keys, left_ts]:
        null_pred = null_pred | F.col(c).isNull()
    left_null = left.filter(null_pred).select(
        "*", *[F.lit(None).cast(dict(right.dtypes)[c]).alias(c) for c in right_cols]
    )
    left = left.filter(~null_pred)
    for c in [*keys, right_ts]:
        right = right.filter(F.col(c).isNotNull())
    l = (
        left.withColumn("_asof_ts", F.col(left_ts))
        .withColumn("_asof_side", F.lit(1))
        .withColumn("_asof_rv", F.lit(None).cast(rv_type))
    )
    r = right.select(
        *keys,
        F.col(right_ts).alias("_asof_ts"),
        F.lit(0).alias("_asof_side"),
        F.struct(
            *([F.col(right_ts).alias("_asof_mt")] if tolerance is not None else []),
            *[F.col(c).alias(c) for c in right_cols],
        ).alias("_asof_rv"),
    )
    for c in lcols:
        if c not in keys:
            r = r.withColumn(c, F.lit(None).cast(ltypes[c]))
    cols = [*lcols, "_asof_ts", "_asof_side", "_asof_rv"]
    u = l.select(*cols).unionByName(r.select(*cols))
    u = u.withColumn(
        "_asof_cb", F.floor(_epoch(u, "_asof_ts") / F.lit(coarse_width)).cast("long")
    )
    # u feeds three subplans (right partials, bucket frame, local resolve) —
    # persist per the repo's multi-consumer rule or the scans/shuffles below
    # it re-execute three times; scoped so the blocks release at the next
    # query boundary (plans/scope.py)
    from mtsad_spark.plans.scope import scoped_persist

    u = scoped_persist(u)
    # per-(key, bucket) partial: the right row struct at the max right ts in
    # the bucket — algebraic max of (ts, values), map-side combined, skew-safe
    rpart = (
        u.filter(F.col("_asof_side") == 0)
        .groupBy(*keys, "_asof_cb")
        .agg(
            F.max(F.struct(F.col("_asof_ts").alias("t"), F.col("_asof_rv").alias("v")))
            .getField("v")
            .alias("_asof_part")
        )
    )
    # bucket frame = every (key, bucket) either side touches; the ONLY
    # bare-key window runs over this tiny aggregate, carrying the last
    # right partial from strictly-earlier buckets across right-free gaps
    buckets = u.select(*keys, "_asof_cb").distinct()
    wcarry = (
        Window.partitionBy(*keys)
        .orderBy("_asof_cb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        buckets.join(rpart, [*keys, "_asof_cb"], "left")
        .withColumn("_asof_carry", F.last("_asof_part", ignorenulls=True).over(wcarry))
        .select(*keys, "_asof_cb", "_asof_carry")
    )
    # local resolve: raw rows windowed per (key, bucket) — parallel across a
    # hot key's buckets; right (side 0) sorts before left at equal ts ⇒
    # exact ties match
    wloc = (
        Window.partitionBy(*keys, "_asof_cb")
        .orderBy("_asof_ts", "_asof_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    resolved = (
        u.join(carry, [*keys, "_asof_cb"])
        .withColumn("_asof_loc", F.last("_asof_rv", ignorenulls=True).over(wloc))
        .withColumn("_asof_rv", F.coalesce("_asof_loc", "_asof_carry"))
    )
    if tolerance is None:
        vals = [F.col("_asof_rv").getField(c).alias(c) for c in right_cols]
    else:

        def _ep(col, dtype):
            if dtype.startswith("timestamp"):
                col = col.cast("timestamp")
            return col.cast("double")

        fresh = (
            _ep(F.col(left_ts), lts_dtype)
            - _ep(F.col("_asof_rv").getField("_asof_mt"), rts_dtype)
        ) <= F.lit(float(tolerance))
        vals = [
            F.when(fresh, F.col("_asof_rv").getField(c)).alias(c)
            for c in right_cols
        ]
    matched = (
        resolved.filter(F.col("_asof_side") == 1)
        .select(*lcols, *vals)
    )
    return matched.unionByName(left_null)

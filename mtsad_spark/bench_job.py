"""Single-process scaling-bench job: run the full sequence pipeline at a given
core count over a FIXED parquet input, print one JSON line with wall time,
throughput, and per-output order-insensitive content hashes (determinism
evidence).

Invoked by tools/bench_scaling.py in separate processes. Two jobs total in the
timed section:

1. scan → exact 1m partial states, persisted (the data-proportional stage —
   this is what a 1000-executor cluster spends its time on at 100 TB);
2. ONE action covering every downstream output — the 1m tier, LOCF gap-fill
   and ``plans.pipeline.flagship_outputs`` (1h/1d tiers, z-score of the
   filled series, chunked EWMA, Gorilla pack) — by unioning each output's
   commutative bit_xor(xxhash64(*)) content hash into a single 7-row collect.
   Spark schedules all seven lineages as one job with concurrent stages, so
   fixed per-job latency is paid once, not seven times (serialized noop writes
   were measured to flatten the scaling curve at sandbox data sizes).

    python -m mtsad_spark.bench_job --cores 8 --input /tmp/seq
"""

from __future__ import annotations

import argparse
import json
import time
import urllib.request
from functools import reduce

from pyspark.sql import functions as F

from mtsad_spark.session import get_spark


def _stage_run_times(spark) -> dict[str, tuple[int, int]] | None:
    """{(stageId.attempt): (executorRunTime ms, executorCpuTime ns)} for
    completed stages, via the UI REST API. Over the timed section:
    CPU-time sum = the work the engine actually did (constant across
    parallelism levels if the plans scale); run-time sum additionally
    absorbs per-thread slowdown when the host oversubscribes/throttles
    (this VM's documented grant swing). Returns None when the UI is
    unavailable (callers treat these as best-effort).

    The AppStatus store is fed by an ASYNC listener bus, so a snapshot taken
    right after an action can lag the stages that action ran (code-review
    r03 finding): poll until two consecutive reads agree on the stage set."""
    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        url = f"{base}/api/v1/applications/{app}/stages?status=complete"

        def snap() -> dict[str, tuple[int, int]]:
            with urllib.request.urlopen(url, timeout=10) as r:
                stages = json.loads(r.read())
            return {
                f"{s['stageId']}.{s['attemptId']}": (s["executorRunTime"], s["executorCpuTime"])
                for s in stages
            }

        prev = snap()
        for _ in range(20):
            time.sleep(0.5)
            cur = snap()
            if set(cur) == set(prev):
                return cur
            prev = cur
        return prev
    except Exception:
        return None


def content_hash_row(df, name: str):
    """1-row frame: (name, bit_xor of per-row xxhash64 over all columns) —
    commutative, so partition order / parallelism cannot change it."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
    return df.select(h.alias("h")).agg(F.expr("bit_xor(h)").alias("content_hash")).select(
        F.lit(name).alias("output"), "content_hash"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--input", required=True, help="parquet dir of sequences")
    ap.add_argument("--generate-rows", type=int, default=0, help="generate input first")
    ap.add_argument("--minutes", type=int, default=10_080)
    ap.add_argument(
        "--max-partition-bytes",
        default="16m",
        help="scan split size — sandbox inputs are far below the 128m default, "
        "which would cap the scan at a handful of tasks and mask scaling",
    )
    args = ap.parse_args()

    spark = get_spark(
        f"scaling-bench-{args.cores}",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        extra_confs={
            "spark.sql.files.maxPartitionBytes": args.max_partition_bytes,
            # UI on for this job only: the REST API is where executor task
            # time comes from (scaling evidence independent of host grant)
            "spark.ui.enabled": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.generate_rows:
        from mtsad_spark.fixtures import sequences

        seq = sequences(
            spark, n_rows=args.generate_rows, n_minutes=args.minutes, with_tokens=False,
            partitions=256,
        )
        seq.write.mode("overwrite").parquet(args.input)
        print(json.dumps({"generated": args.generate_rows, "path": args.input}))
        return

    from mtsad_spark.operators.gapfill import gap_fill
    from mtsad_spark.operators.rollup import rollup_tiers
    from mtsad_spark.plans.pipeline import flagship_outputs

    # JVM/codegen warm-up outside the timed section
    spark.range(1_000_000).agg(F.sum("id")).collect()

    seq = spark.read.parquet(args.input)
    n_rows = seq.count()

    pre_stages = _stage_run_times(spark)
    t0 = time.time()
    finalized, partials = rollup_tiers(seq, "ingest_ts", "n_tok", ["source"])
    partials["1m"].persist().count()  # job 1: the data-proportional scan+agg
    t_scan = time.time() - t0

    m1 = finalized["1m"]
    filled = gap_fill(m1, ["source"], "1m", ["mean"], method="locf")
    outputs = {
        "rollup_1m": m1,
        "gapfill": filled,
        **flagship_outputs(finalized, filled, ["source"]),
    }
    hashed = reduce(
        lambda a, b: a.unionByName(b),
        [content_hash_row(df, name) for name, df in outputs.items()],
    )
    rows = hashed.collect()  # job 2: every downstream lineage, one action
    wall = time.time() - t0

    post_stages = _stage_run_times(spark)
    task_time_s = task_cpu_s = None
    if pre_stages is not None and post_stages is not None:
        new = [v for k, v in post_stages.items() if k not in pre_stages]
        task_time_s = round(sum(v[0] for v in new) / 1e3, 3)
        task_cpu_s = round(sum(v[1] for v in new) / 1e9, 3)

    print(
        json.dumps(
            {
                "cores": args.cores,
                "rows": n_rows,
                "wall_s": round(wall, 3),
                "scan_s": round(t_scan, 3),
                "rows_per_sec": round(n_rows / wall, 1),
                # executor work in the timed section: at perfect scaling
                # task_cpu_s is constant across core counts while wall drops
                # 4x; task_time_s - task_cpu_s exposes host throttling
                "task_time_s": task_time_s,
                "task_cpu_s": task_cpu_s,
                "utilization": round(task_time_s / (wall * args.cores), 3)
                if task_time_s is not None
                else None,
                "tier_hashes": {r["output"]: r["content_hash"] for r in rows},
            }
        )
    )


if __name__ == "__main__":
    main()

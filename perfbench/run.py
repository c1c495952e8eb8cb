"""Benchmark of the mtsad_spark engine: one workload per run.

    python3 perfbench/run.py --workload batch_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The lines before it list every metric by name and unit.
``perfbench/README.md`` gives the workloads, the metrics and what each layer
should move. Inputs, references, spans and per-run records go under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("batch_scan", "score_long", "ingest_refresh")
SETUP_ROUNDS = 3
MIN_PASSES = 3
DRIVER_MEM = "3g"
# two EWMA slices per full score_long key, as the 200k-row default gives a
# 262,144-minute series, so the halo path runs
EWMA_SLICE_ROWS = 16_384

GENERIC = {
    "wall_s": "s", "self_s": "s", "task_cpu_s": "s", "task_run_s": "s", "gc_s": "s",
    "util": "ratio", "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
    "spill_bytes": "B", "jobs": "count", "stages": "count", "tasks": "count",
}
EXTRA = {
    "session": {"start_s": "s", "codegen_compile_ms": "ms", "codegen_compiles": "count"},
    "rollup": {"scan_s": "s", "input_bytes": "B", "input_rows": "rows", "partial_rows": "rows", "combine_ratio": "ratio"},
    "gapfill": {"spine_rows": "rows", "filled_frac": "ratio"},
    "scoring.zscore": {},
    "scoring.ewma": {"python_bytes_sent": "B", "python_bytes_received": "B", "halo_frac": "ratio"},
    "gorilla": {"python_bytes_sent": "B", "block_bytes": "B", "bits_per_point": "bits"},
    "continuous.refresh": {
        "rows_in": "rows", "stored_rows_read": "rows", "bytes_written": "B",
        "files_written": "count", "days_rewritten": "count",
    },
    "continuous.query": {"files_read": "count", "bytes_read": "B", "packed_days_read": "count"},
}


def configure_environment(cores: int) -> None:
    """Size the engine for this host before the JVM starts. Python workers
    inherit PYTHONPATH from the JVM's environment, so the repository root
    must be on it for ``applyInPandas`` workers to import ``mtsad_spark``."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    sys.path.insert(0, ROOT)


def start_session(cores: int):
    from mtsad_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_confs={
            # the inputs are a few MB per file; the 128m default would pack
            # a scan into fewer tasks than cores (same setting as bench.py)
            "spark.sql.files.maxPartitionBytes": "16m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def make_workload(name: str, seed: int):
    from perfbench.workloads import IngestRefresh, SeqPipeline

    if name == "batch_scan":
        return SeqPipeline(name, WORK, seed, rows=24_000_000, minutes=1440, ewma_slice_rows=EWMA_SLICE_ROWS)
    if name == "score_long":
        return SeqPipeline(name, WORK, seed, rows=524_288, minutes=32_768, ewma_slice_rows=EWMA_SLICE_ROWS)
    return IngestRefresh(name, WORK, seed, history_rows=300_000, batch_rows=100_000, batches=12)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least 10 samples
    beyond it; the median when that percentile would not be above it
    (fewer than 21 samples)."""
    n = len(samples)
    s = sorted(samples)
    if n <= 20:
        return 50.0, statistics.median(s)
    idx = n - 11
    return 100.0 * (idx + 1) / n, s[idx]


def codegen_stats() -> tuple[int, float]:
    """(compiles, approx. total compile ms) from the JVM-wide CodegenMetrics;
    the histogram keeps a sample, so the total is count x sampled mean."""
    from pyspark import SparkContext

    h = SparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = h.getCount()
    return n, n * h.getSnapshot().getMean()


def stop_engine(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from perfbench.proctree import descendants, wait_gone

    pids = descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    wait_gone(pids, 30)


def layer_metrics(tracer, wl, traced_passes, untraced_walls, setup_info) -> dict[str, float]:
    """Median over the traced passes of every layer's counters; layers the
    workload does not run report 0."""
    out: dict[str, float] = {}
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    for layer, extra in EXTRA.items():
        rows = []
        if layer == "session":
            rows = [setup_info]
        else:
            for s in by_name.get(layer, []):
                if s.pass_id in traced_passes:
                    rows.append({**tracer.finish(s), **layer_extras(layer, s, by_name, wl)})
        for k in [*GENERIC, *extra]:
            vals = [r[k] for r in rows if k in r]
            out[f"{layer}.{k}"] = float(statistics.median(vals)) if vals else 0.0
    traced = [s.wall_s for s in by_name.get("pass", []) if s.pass_id in traced_passes]
    out["tracing.overhead_s"] = (
        statistics.median(traced) - statistics.median(untraced_walls) if traced and untraced_walls else 0.0
    )
    return out


def layer_extras(layer: str, s, by_name, wl) -> dict[str, float]:
    c = s.counters
    if layer == "rollup":
        scan = [x.wall_s for x in by_name.get("rollup.scan", []) if x.pass_id == s.pass_id]
        return {
            "scan_s": scan[0] if scan else 0.0,
            "input_bytes": c["input_bytes"],
            "input_rows": c["input_rows"],
            "partial_rows": c["partial_rows"],
            "combine_ratio": c["shuffle_write_records"] / c["input_rows"] if c["input_rows"] else 0.0,
        }
    if layer == "gapfill":
        return {"spine_rows": c["spine_rows"], "filled_frac": c["filled_frac"]}
    if layer == "scoring.ewma":
        out_rows = s.plan_sum("number of output rows", node="FlatMapGroupsInPandas")
        exploded = s.plan_sum("number of output rows", node="Generate")
        return {
            "python_bytes_sent": s.plan_sum("data sent to Python workers"),
            "python_bytes_received": s.plan_sum("data returned from Python workers"),
            "halo_frac": (exploded - out_rows) / out_rows if out_rows and exploded else 0.0,
        }
    if layer == "gorilla":
        return {
            "python_bytes_sent": s.plan_sum("data sent to Python workers"),
            "block_bytes": c["block_bytes"],
            "bits_per_point": c["bits_per_point"],
        }
    if layer == "continuous.refresh":
        return {
            "rows_in": c["rows_in"],
            # store scans are those not reading the batch's raw ingest_ts column
            "stored_rows_read": s.plan_sum("number of output rows", node="Scan")
            - s.plan_sum("number of output rows", node="Scan", desc_has="ingest_ts"),
            "bytes_written": s.plan_sum("written output"),
            "files_written": s.plan_sum("number of written files"),
            "days_rewritten": c["days_rewritten"],
        }
    if layer == "continuous.query":
        return {
            "files_read": s.plan_sum("number of files read", node="Scan"),
            "bytes_read": s.plan_sum("size of files read", node="Scan"),
            # packed tier files are the ones with Gorilla block_* columns
            "packed_days_read": s.plan_sum("number of partitions read", node="Scan", desc_has="block_"),
        }
    return {}


def run(workload: str, seed: int, seconds: float, trace: bool, cores: int) -> dict:
    from perfbench.proctree import cpu_grant_probe, engine_peak_rss_mb, tree_cpu_s
    from perfbench.trace import Tracer

    probe_before = cpu_grant_probe()
    wl = make_workload(workload, seed)

    t = time.perf_counter()
    spark = start_session(cores)
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.prepare(spark)  # input generation: not part of set-up time
    prepare_s = time.perf_counter() - t

    # Set-up, the same in traced and untraced runs: priming (the cold JIT
    # and codegen work, on a small fixed input), then rounds of input
    # verification, state build and a warm-up pass. The rounds share the
    # one session (a SparkContext restarted in the same JVM leaves
    # module-level pandas UDFs bound to the stopped one).
    tracer = Tracer(spark, cores, enabled=trace)
    setup_rounds: list[float] = []
    compiles0, compile_ms0 = codegen_stats()
    with tracer.span("session") as session:
        tracer.enabled = False  # no spans inside set-up; its jobs carry the session's group
        t = time.perf_counter()
        wl.prime(spark, tracer)
        prime_s = time.perf_counter() - t
        for r in range(SETUP_ROUNDS):
            t = time.perf_counter()
            if not wl.inputs_ok():
                raise RuntimeError("input files do not match their manifest")
            wl.build(spark, r)
            wl.run_pass(spark, tracer, None, record=False)
            setup_rounds.append(time.perf_counter() - t)
        tracer.enabled = trace
    compiles1, compile_ms1 = codegen_stats()
    setup_info = {
        **tracer.finish(session),
        "wall_s": start_s + session.wall_s,
        "self_s": start_s + session.wall_s,
        "start_s": start_s,
        "codegen_compiles": compiles1 - compiles0,
        "codegen_compile_ms": compile_ms1 - compile_ms0,
    }
    tracer.spans.clear()
    wl.verify(spark)

    walls: list[float] = []  # untraced passes
    cpus: list[float] = []
    traced_passes: set[int] = set()
    attempted = 0
    errors: list[str] = []
    t_start = time.perf_counter()
    i = 0
    while wl.has_next() and (
        time.perf_counter() - t_start < seconds or i < MIN_PASSES or (trace and not traced_passes)
    ):
        # a traced run alternates untraced and traced passes, so that both
        # kinds see the same JVM state and the overhead is their difference
        tracer.enabled = trace and i % 2 == 1
        attempted += 1
        c0 = tree_cpu_s()
        t = time.perf_counter()
        try:
            wl.run_pass(spark, tracer, i)
        except Exception as e:  # counted as failed; the outputs so far are still checked
            errors.append(f"pass {i}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
            break
        wall = time.perf_counter() - t
        if tracer.enabled:
            traced_passes.add(i)
        else:
            walls.append(wall)
            cpus.append(tree_cpu_s() - c0)
        i += 1
    peak_rss = engine_peak_rss_mb(os.getpid())
    timed_s = time.perf_counter() - t_start
    tracer.enabled = False

    raised = len(errors)
    check_errs, failed = wl.check(spark)
    errors += check_errs
    stop_engine(spark)
    probe_after = cpu_grant_probe()

    attempted *= wl.ops_per_pass
    failed = min(attempted, failed + raised * wl.ops_per_pass)
    correct = not errors and failed == 0 and bool(walls)

    pass_s = statistics.median(walls) if walls else float("nan")
    e2e = {
        "setup_s": (start_s + prime_s + statistics.median(setup_rounds), "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (wl.rows_per_pass / pass_s, "rows/s"),
        # the total over the passes, not a median: JIT and GC threads run
        # in the background, and which pass their CPU lands in is chance
        "cpu_s": (sum(cpus) / len(cpus) if cpus else float("nan"), "s"),
    }
    extra_lines = {
        "failed_frac": (failed / attempted if attempted else 1.0, "ratio"),
        "peak_rss_mb": (peak_rss, "MB"),
        "session_start_s": (start_s, "s"),
        "prepare_s": (prepare_s, "s"),
        "prime_s": (prime_s, "s"),
        "setup_round_s": (statistics.median(setup_rounds), "s"),
        "timed_s": (timed_s, "s"),
        "cpu_grant_probe_before_s": (probe_before, "s"),
        "cpu_grant_probe_after_s": (probe_after, "s"),
    }
    if getattr(wl, "partials_s", None):
        # job 1 of the untraced pass: the scan and the 1m partials
        extra_lines["partials_job_s"] = (statistics.median(wl.partials_s), "s")
        extra_lines["partials_share"] = (statistics.median(wl.partials_s) / pass_s, "ratio")
    if workload == "ingest_refresh" and wl.refresh_s:
        rp, rt = tail(wl.refresh_s)
        qp, qt = tail(wl.query_s)
        extra_lines.update(
            {
                "refresh_p50_s": (statistics.median(wl.refresh_s), "s"),
                f"refresh_tail_s (p{rp:.0f})": (rt, "s"),
                "query_p50_s": (statistics.median(wl.query_s), "s"),
                f"query_tail_s (p{qp:.0f})": (qt, "s"),
                "ingest_rows_per_s": (wl.batch_rows / statistics.median(wl.refresh_s), "rows/s"),
            }
        )
    per_layer = layer_metrics(tracer, wl, traced_passes, walls, setup_info) if trace else {}

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    stem = os.path.join(WORK, "runs", f"{workload}-seed{seed}-trace{int(trace)}")
    if trace:
        tracer.dump(stem + "-spans.json")
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "errors": errors,
        "setup_rounds_s": setup_rounds,
        "pass_walls_s": walls,
        "pass_cpu_s": cpus,
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        "diagnostics": {k: v[0] for k, v in extra_lines.items()},
        "per_layer": per_layer,
    }
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)

    for msg in errors:
        print(f"error: {msg}")
    n = {"setup_s": len(setup_rounds), "cpu_s": len(cpus)}
    for k, (v, unit) in {**e2e, **extra_lines}.items():
        print(f"{k} = {v:.6g} {unit}" + (f"  (n={n.get(k, len(walls))})" if k in e2e else ""))
    if trace:
        units = {f"{layer}.{k}": u for layer, ex in EXTRA.items() for k, u in {**GENERIC, **ex}.items()}
        units["tracing.overhead_s"] = "s"
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mtsad_spark")):
        print(f"perfbench: no mtsad_spark package next to {HERE}; run from a repository checkout", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    configure_environment(cores)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), cores)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run one workload over several seeds and report, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median, the way the
benchmark's stability is judged against each metric's bound.

    python3 perfbench/spread.py --workload batch_scan --seeds 1-10

Run from the repository root. Each run's last output line is kept in
``perfbench/.work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    log = os.path.join(HERE, ".work", f"spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [
            *bench["command"], "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.monotonic()
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        wall = time.monotonic() - t0
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        res = json.loads(last) if out.returncode == 0 else {}
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, "exit": out.returncode, "result": res}) + "\n")
        for k, m in res.get("metrics", {}).items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: exit {out.returncode}, {wall:.1f} s, correct={res.get('correct')}", flush=True)
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
        bound = bounds.get(k)
        print(
            f"{k}: median {med:.6g}, spread {(q3 - q1) / med:.4f}"
            + (f" (bound {bound}, target < {bound / 3:.4f})" if bound else "")
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())

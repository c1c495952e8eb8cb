"""Capture .explain("formatted") for named driver queries into plans/r07/.

Usage: python tools/capture_plans.py <suffix> [query ...]
  suffix: "before" or "after" — written as plans/r07/<query>_<suffix>.txt
  with no query list, captures the full headline set.

Plans are captured at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1, the
same default as bench.py) so join-strategy/AQE claims match what the bench
actually runs. Cores and driver heap follow mtsad_spark.session.get_spark
(SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "rollup_1m",
    "rollup_1h_composed",
    "rollup_1d_composed",
    "gapfill_locf_1h",
    "gapfill_linear_1h",
    "gorilla_roundtrip_1h",
    "zscore_roll24_1h",
    "ewma_scores_1h",
    "percentile_sweep",
    "tpch_q1",
    "top_orders_by_revenue",
    "mktsegment_totals",
    "dedup_exact_docs",
    "docs_quality",
    "minhash_near_dups_docs",
    "simhash_docs",
    "knn_cosine_top3",
]


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mtsad_spark.session import get_spark

    spark = get_spark(
        "mtsad-plan-capture",
        extra_confs={"spark.sql.files.maxPartitionBytes": "16m"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from mtsad_spark.driver_queries import queries as dq

    qs = dq()
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"captured {name}_{suffix} ({plan.count('Exchange')} Exchange mentions)")


if __name__ == "__main__":
    main()

"""Extra benchmarks for the optimization round (guide §1.4): stage-isolated
noop-sink timings for the expensive pipelines, separate from the FROZEN
bench.py. Each stage is labeled (setJobDescription) and timed end-to-end
with the noop writer so the numbers measure computation, not the sink.

Usage: python bench_extra.py [minhash|simhash|knn|queries] ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1); cores and driver heap
follow mtsad_spark.session.get_spark (SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from mtsad_spark.session import get_spark  # noqa: E402


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def profile_minhash(spark, sf_dir: str) -> dict[str, float]:
    """Per-stage cost of the packed minhash near-dup pipeline (r7 shape:
    one groupBy building collect_set + 64 mins, band self-join,
    array_intersect verify). Each stage's upstream is persisted first so the
    reading is the stage's own cost."""
    from mtsad_spark.driver_queries import _docs
    from mtsad_spark.operators.dedup import (
        _min_mix_aggs,
        band_buckets,
        band_self_join,
        word_shingle_keys,
    )

    sc = spark.sparkContext
    out: dict[str, float] = {}
    docs = _docs(spark, sf_dir)

    sc.setJobDescription("minhash: 1 shingle keys (exploded)")
    ex = word_shingle_keys(docs, "doc_id", "text", k=3, distinct=False)
    out["shingle_keys"] = noop(ex)

    sc.setJobDescription("minhash: 2 doc features (sets + 64 mins)")
    feats = ex.groupBy("doc_id").agg(
        F.collect_set("sk").alias("sks"), *_min_mix_aggs(F.col("sk"), 64, 42)
    )
    out["doc_features"] = noop(feats)
    feats = feats.persist()
    feats.count()

    sc.setJobDescription("minhash: 3 band self-join (features hot)")
    cand = band_self_join(band_buckets(feats, "doc_id", 64, 16), "doc_id")
    out["band_self_join"] = noop(cand)
    cand = cand.persist()
    cand.count()

    sc.setJobDescription("minhash: 4 intersect verify (features+pairs hot)")
    fa = feats.select(F.col("doc_id").alias("id_a"), F.col("sks").alias("_sa"))
    fb = feats.select(F.col("doc_id").alias("id_b"), F.col("sks").alias("_sb"))
    jac = (
        cand.join(fa, "id_a").join(fb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn("jaccard", F.col("n_inter") / (F.size("_sa") + F.size("_sb") - F.col("n_inter")))
        .filter(F.col("jaccard") >= 0.5)
    )
    out["intersect_verify"] = noop(jac)

    sc.setJobDescription(None)
    out["n_docs"] = docs.count()
    out["n_cand_pairs"] = cand.count()
    feats.unpersist()
    cand.unpersist()
    return out


def profile_queries(spark, sf_dir: str, names: list[str], trials: int = 3) -> dict:
    from mtsad_spark.driver_queries import queries as dq

    qs = dq()
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(trials):
        for n in names:
            spark.sparkContext.setJobDescription(f"bench_extra: {n}")
            samples[n].append(noop(qs[n](spark, sf_dir)))
            spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(None)
    return {"min": {n: min(s) for n, s in samples.items()}, "spread": samples}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "mtsad-bench-extra",
        extra_confs={"spark.sql.files.maxPartitionBytes": "16m"},
    )
    cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).agg(F.sum("id")).collect()  # JIT warmup

    what = sys.argv[1:] or ["minhash"]
    out: dict = {"sf_dir": sf_dir, "cpus": cpus}
    for w in what:
        if w == "minhash":
            out["minhash"] = profile_minhash(spark, sf_dir)
        else:
            out[w] = profile_queries(spark, sf_dir, [w])
    from mtsad_spark.plans.scope import release_scoped

    release_scoped()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

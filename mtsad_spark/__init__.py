"""mtsad_spark — a from-scratch PySpark-native time-series rollup + downsample +
retention + anomaly-scoring engine with the query capabilities of
maxsxu/MTSAnomalyDetection (reference studied read-only at /root/reference).

Architecture (Spark-first, NOT a port):
  - DataFrame/SQL logical plans everywhere; Catalyst/Tungsten pick the physical
    strategy (predicate pushdown, partial/final hash agg, AQE, codegen).
  - The only Python-side kernels are Arrow-vectorized pandas UDFs
    (``applyInPandas`` / scalar ``pandas_udf``) for genuinely non-relational
    semantics: EWMA recursion, Gorilla bit-packing, MinHash signatures.
  - Exactness-by-construction: tier rollups carry integer partial states
    (n, Σx, Σx² as LONG) so the float mean/std is derived by ONE deterministic
    expression at the end — bitwise identical at any parallelism level.

Subpackages:
  operators/  rollup, gapfill, scoring, supervised (lag/lead/windows), dedup,
              similarity, splits, prefix sums, as-of join
  functions/  gorilla codec, text quality features, metrics (P/R/F1)
  sources/    table provider seam (Iceberg catalog if present, parquet fallback)
  plans/      end-to-end checkpointed pipeline with lineage + row-count metrics,
              continuous aggregates
  streaming/  watermarked 1m rollup, stateful EWMA, continuous-aggregate ingest
"""

__version__ = "0.1.0"

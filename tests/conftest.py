"""Shared SparkSession + fixture frames for the engine test suite.

One session for the whole run (session-scoped) at local[4]. AQE is disabled in
tests only — it multiplies tiny jobs into many stages and slows the suite; the
production config (mtsad_spark.session.ENGINE_CONFS) keeps it on. Parallelism
invariance across genuinely separate processes is covered by bench_scaling.py
(local[8] vs local[32] with output hashes); in-suite invariance is exercised by
re-running plans under different input partition counts.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mtsad_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="mtsad-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_confs={"spark.sql.adaptive.enabled": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def seq_df(spark):
    """20k-row sequences fixture WITHOUT token arrays (rollup/scoring tests
    never touch tokens; generating 5M+ array elements would dominate runtime)."""
    from mtsad_spark.fixtures import sequences

    return sequences(spark, n_rows=20_000, n_minutes=240, with_tokens=False).cache()


@pytest.fixture(scope="session")
def seq_pdf(seq_df):
    return seq_df.toPandas()


@pytest.fixture(scope="session")
def seq_tok_df(spark):
    """Small fixture WITH real token arrays, for pass-through equality."""
    from mtsad_spark.fixtures import sequences

    return sequences(spark, n_rows=2_000, n_minutes=60, with_tokens=True).cache()


@pytest.fixture
def evaluation_counter(spark):
    """``count(df, col)`` -> ``(counted, acc)``: ``counted`` is ``df`` with
    ``col`` passed through a Python UDF that adds one to the accumulator
    ``acc`` per row it evaluates, so ``acc.value / df.count()`` is how many
    times a plan over ``counted`` evaluated its input."""
    from pyspark.sql import functions as F

    def count(df, col):
        acc = spark.sparkContext.accumulator(0)

        def tick(v):
            acc.add(1)
            return v

        return df.withColumn(col, F.udf(tick, df.schema[col].dataType)(col)), acc

    return count

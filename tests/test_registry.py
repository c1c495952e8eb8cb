"""Shape of the driver-contract registry: the frozen bench headline and the
DuckDB oracles must stay in step with ``queries()``. Needs no Spark job."""

from __future__ import annotations

import ast
import os

from mtsad_spark.driver_queries import oracle_sql, queries

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")

# Spark-only operators checked by row count, with no SQL oracle
ROWS_ONLY = {"minhash_near_dups_docs", "simhash_docs", "simhash_dup_pairs_docs"}


def _bench_headline() -> list[str]:
    with open(BENCH) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and [getattr(t, "id", None) for t in node.targets] == ["headline"]
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("bench.py defines no `headline` list")


def test_bench_headline_names_are_registered():
    headline = _bench_headline()
    assert headline, "empty headline"
    missing = [n for n in headline if n not in queries()]
    assert not missing, missing


def test_every_query_has_an_oracle_except_the_rows_only_ones():
    assert set(oracle_sql()) == set(queries()) - ROWS_ONLY


def test_every_priority_name_is_registered():
    """``_PRIORITY`` only orders the registry: a name with no query behind it
    would be dropped silently by the ``if k in _REG`` filter."""
    from mtsad_spark.driver_queries import _PRIORITY

    stale = [n for n in _PRIORITY if n not in queries()]
    assert not stale, stale

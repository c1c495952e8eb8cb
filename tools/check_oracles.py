"""Local stand-in for the driver's DuckDB-oracle comparison.

Runs every registered query at the given sf_dir through Spark AND its oracle
SQL through DuckDB, then compares row count, column-name sets, and
order-insensitive values (sorted frames, NaN-aware). Usage:

    python tools/check_oracles.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import math
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

from mtsad_spark.driver_queries import oracle_sql, queries  # noqa: E402
from mtsad_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        if out[c].dtype == object:
            try:
                out[c] = out[c].astype(str)
            except Exception:
                pass
        if str(out[c].dtype).startswith("datetime64[us"):
            out[c] = out[c].astype("datetime64[ns]")
        if str(out[c].dtype) in ("float32",):
            out[c] = out[c].astype("float64")
        if str(out[c].dtype).startswith("decimal"):
            out[c] = out[c].astype("float64")
    out = out[sorted(out.columns)]
    return out.sort_values(list(out.columns), na_position="last").reset_index(drop=True)


def _kind(dtype) -> str:
    """Collapse a dtype to a comparison kind: int / float / bool / dt / str."""
    k = np.dtype(dtype).kind if not str(dtype).startswith("datetime") else "M"
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "dt"}.get(k, "str")


def oracle_type_guard(rel) -> str | None:
    """Reject oracle relations whose output schema the driver canonicalizer
    hashes differently from Spark's (VERDICT r04 #1): DuckDB widens integer
    sum() to HUGEINT (pandas object/float64 vs Spark int64) and decimal
    arithmetic to DECIMAL. Every oracle must CAST such outputs to
    BIGINT/DOUBLE explicitly."""
    bad = [
        f"{c}:{t}"
        for c, t in zip(rel.columns, [str(t).upper() for t in rel.types])
        if "HUGEINT" in t
        or "DECIMAL" in t
        or t in ("UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")
    ]
    if bad:
        return f"oracle output types need explicit CAST: {bad}"
    return None


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if set(a.columns) != set(b.columns):
        return f"columns differ: spark={sorted(a.columns)} duck={sorted(b.columns)}"
    if len(a) != len(b):
        return f"row counts differ: spark={len(a)} duck={len(b)}"
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        # the driver's hash is dtype-strict: int64 5 vs float64 5.0 is a
        # hash mismatch even though `==` passes — reject kind mismatches
        # locally so local green predicts driver green (ADVICE r04)
        ka, kb = _kind(a[c].dtype), _kind(b[c].dtype)
        if ka != kb:
            return f"dtype kind differs in column {c}: spark={a[c].dtype} duck={b[c].dtype}"
        av, bv = a[c].values, b[c].values
        if np.issubdtype(a[c].dtype, np.floating):
            ok = np.allclose(
                np.nan_to_num(av, nan=1.2345e300),
                np.nan_to_num(bv.astype("float64"), nan=1.2345e300),
                rtol=0, atol=1e-9,
            )
        else:
            ok = (pd.isna(av) == pd.isna(bv)).all() and (
                av[~pd.isna(av)] == bv[~pd.isna(bv)]
            ).all()
        if not ok:
            m = None
            for i in range(len(av)):
                x, y = av[i], bv[i]
                same = (pd.isna(x) and pd.isna(y)) or x == y
                if not same and np.issubdtype(a[c].dtype, np.floating):
                    same = bool(np.isclose(float(x), float(y), rtol=0, atol=1e-9))
                if not same:
                    m = f" first diff row {i}: {x!r} vs {y!r}"
                    break
            return f"values differ in column {c}:{m}"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filt = sys.argv[2] if len(sys.argv) > 2 else ""
    # codegen fallback off: a query whose generated code stops compiling
    # fails here instead of logging a trace and running interpreted
    spark = get_spark(
        "oracle-check", master="local[4]", shuffle_partitions=4,
        extra_confs={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.codegen.fallback": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)
    qs, osql = queries(), oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    import re

    for name, fn in qs.items():
        if filt and not re.search(filt, name):
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        finally:
            # queries persist multi-consumer frames (LSH candidates, SAX
            # symbol frames) and return lazy results — release the blocks
            # after each consuming action so a full-registry run can't
            # accumulate caches and evict hotter ones (ADVICE r03)
            spark.catalog.clearCache()
        if name not in osql:
            print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(osql[name])
            type_err = oracle_type_guard(rel)
            if type_err:
                print(f"FAIL  {name}: {type_err}")
                n_fail += 1
                continue  # don't materialize a query we already rejected
            ddf = rel.df()
        except Exception as e:
            print(f"FAIL  {name}: DUCKDB ERROR {str(e)[:200]}")
            n_fail += 1
            continue
        err = compare(sdf, ddf)
        if err:
            print(f"FAIL  {name}: {err}")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(sdf)} rows")
            n_pass += 1
    # run-exit hook (ADVICE r05): the LAST query's scoped persists must not
    # outlive the run — clearCache drops blocks but not registry entries
    from mtsad_spark.plans.scope import release_scoped

    release_scoped()
    print(f"\n{n_pass} ok, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

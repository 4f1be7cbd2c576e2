"""Local replica of the driver's correctness gate: run every REGISTRY query
on Spark AND its DuckDB oracle, compare row count, schema shape, and an
order-insensitive value hash (columns sorted by name, floats rounded the way
a sane hash-match would: exact string repr after float64 normalization).

The SUMMARY line ends with the sha256 of the ``{name: oracle}`` dump
(:func:`oracle_dump_hash`).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from vstream_spark.queries import REGISTRY  # noqa: E402
from vstream_spark.session import get_spark  # noqa: E402
from vstream_spark.sources.tables import TABLES  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64")
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        elif df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[us]")
    # NOTE: no list->tuple coercion here — the driver's canonicalizer sorts
    # raw cells, so list-typed columns must fail HERE too (r2 lesson: three
    # queries shipped array cells and died only in the driver's gate).
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_frame(df: pd.DataFrame) -> pd.DataFrame:
    # float compare with tolerance happens in compare(); here just canon order
    return canon(df)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(f"columns differ: {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}")
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"row count {len(spark_df)} vs {len(duck_df)}")
        return problems
    a, b = canon(spark_df), canon(duck_df)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            import numpy as np

            if not np.allclose(a[c].to_numpy(), b[c].to_numpy(), rtol=0, atol=0, equal_nan=True):
                # report max abs diff and whether exact match fails
                diff = (a[c].to_numpy() - b[c].to_numpy())
                problems.append(f"float col {c} not bitwise equal; max|diff|={abs(diff).max():.3e}")
        else:
            if not a[c].equals(b[c]):
                ne = (a[c] != b[c]).sum()
                problems.append(f"col {c}: {ne} mismatched values")
    return problems


def oracle_dump_hash() -> str:
    """sha256 of ``json.dumps({name: oracle}, sort_keys=True)`` over every
    REGISTRY entry (a rows-only entry's oracle is null): equal across two
    checkouts iff no oracle was added, removed or edited."""
    dump = {name: sql for name, (_, sql) in REGISTRY.items()}
    return hashlib.sha256(json.dumps(dump, sort_keys=True).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duck_con(sf_dir)
    failures = 0
    for name, (fn, sql) in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if sql is None:
            # the driver canonicalizes rows-only results too — prove sortable
            try:
                canon(sdf)
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: rows-only result not canonicalizable: {e}")
                failures += 1
                continue
            print(f"ok?  {name}: rows={len(sdf)} (rows-only, no oracle) [{t_spark:.1f}s]")
            continue
        try:
            ddf = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"PASS {name}: rows={len(sdf)} [{t_spark:.1f}s]")
    checked = len(only) if only else len(REGISTRY)
    print(
        f"SUMMARY: {checked - failures}/{checked} ok, {failures} failures [{sf_dir}] "
        f"oracle-dump-sha256={oracle_dump_hash()}"
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

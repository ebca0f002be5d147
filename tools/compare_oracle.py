"""Mini driver-compare harness: runs every __spark_entry__ query against
its DuckDB oracle at a given sf dir and reports rows/schema/value matches
(a local stand-in for the driver's CORRECTNESS_r{N}.json gate).

Usage: python tools/compare_oracle.py [sf_dir] [query ...]

Each result line carries the wall seconds of both sides: first the Spark
query's build + ``toPandas``, then ``duckdb=`` the oracle SQL's execute +
fetch.
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda x: tuple(x) if isinstance(x, (list, tuple)) else x)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def values_match(a: pd.DataFrame, b: pd.DataFrame, tol=1e-9) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None and y is None:
                continue
            if isinstance(x, float) or isinstance(y, float):
                fx = float(x) if x is not None else math.nan
                fy = float(y) if y is not None else math.nan
                if math.isnan(fx) and math.isnan(fy):
                    continue
                if abs(fx - fy) > tol * max(1.0, abs(fx), abs(fy)):
                    return False, f"col {c} row {i}: {x!r} vs {y!r}"
            elif x != y:
                return False, f"col {c} row {i}: {x!r} vs {y!r}"
    return True, "ok"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from docetl_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8, app_name="oracle_compare")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows, {dt:.1f}s (rows-only check)")
            if len(got) == 0:
                print(f"  WARNING: zero rows")
            continue
        t1 = time.time()
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error {str(e)[:200]}")
            continue
        ok, why = values_match(canon(got), canon(want))
        status = "OK   " if ok else "FAIL "
        if not ok:
            failures.append(name)
        print(f"{status} {name}: spark={len(got)} oracle={len(want)} "
              f"{dt:.1f}s duckdb={time.time() - t1:.1f}s {'' if ok else why}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

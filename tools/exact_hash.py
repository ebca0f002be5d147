"""Byte-exact oracle comparison — the local stand-in for the driver's
value-HASH gate (tools/compare_oracle.py uses a 1e-9 tolerance, which
hides exactly the ulp-flip class that made hierarchical_reduce_events go
red in r5).

Runs each query against its DuckDB oracle and compares canonicalized
values EXACTLY: floats must match bit-for-bit (-0.0 != 0.0, NaN == NaN by
bit pattern). Master / shuffle partitions are CLI-configurable so a query
can be checked across parallelism levels — a value that survives
local[2]/2 and local[32]/67 with identical bytes is partitioning-stable.

Usage: python tools/exact_hash.py [sf_dir] [--master local[8]]
       [--shuffle 64] [query ...]
"""

from __future__ import annotations

import argparse
import hashlib
import struct
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon_cell(x):
    """Canonical bytes for one value: floats by IEEE bit pattern."""
    if x is None:
        return b"\x00N"
    if isinstance(x, float):
        # integral doubles unify with ints (DuckDB HUGEINT sums fetch as
        # float64 while Spark keeps long — the driver's rows/hash gates
        # accept that pairing, e.g. hierarchical_reduce n_events in r4).
        # Non-integral floats stay bit-exact: that is the ulp-flip class
        # this tool exists to catch.
        if x == x and abs(x) < 2**53 and float(x).is_integer():
            return b"i" + str(int(x)).encode()
        return b"f" + struct.pack("<d", x)
    if isinstance(x, bool):
        return b"b1" if x else b"b0"
    if isinstance(x, int):
        return b"i" + str(x).encode()
    if isinstance(x, (list, tuple)):
        return b"[" + b",".join(_canon_cell(v) for v in x) + b"]"
    return b"s" + str(x).encode()


def frame_hash(df: pd.DataFrame) -> tuple[str, list]:
    df = df[sorted(df.columns)].copy()
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append(b"|".join(_canon_cell(v) for v in tup))
    rows.sort()
    h = hashlib.sha256()
    for r in rows:
        h.update(r)
        h.update(b"\n")
    return h.hexdigest(), rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--shuffle", type=int, default=8)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_intermixed_args()

    import __spark_entry__ as entrymod
    from docetl_spark.session import get_spark

    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle,
                      app_name="exact_hash")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = args.queries or [n for n in qs if n in oracles]
    failures = []
    for name in names:
        t0 = time.time()
        try:
            got = qs[name](spark, args.sf_dir).toPandas()
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001 - report and continue
            failures.append(name)
            print(f"FAIL  {name}: {type(e).__name__}: {str(e)[:160]}")
            continue
        hg, rg = frame_hash(got)
        hw, rw = frame_hash(want)
        ok = hg == hw
        if not ok:
            failures.append(name)
            diff = next(
                (i for i, (a, b) in enumerate(zip(rg, rw)) if a != b),
                min(len(rg), len(rw)),
            )
            print(f"FAIL  {name}: hash {hg[:12]} vs {hw[:12]} "
                  f"(first diff row {diff}: {rg[diff][:90] if diff < len(rg) else '<none>'} "
                  f"vs {rw[diff][:90] if diff < len(rw) else '<none>'})")
        else:
            print(f"OK    {name}: hash {hg[:12]} rows={len(got)} {time.time()-t0:.1f}s")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

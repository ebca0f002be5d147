"""Record the board's reference row hashes and confirm them against DuckDB.

    python3 perfbench/confirm_refs.py [--write]

For every timed board leaf: run it on the frozen corpus, take the in-JVM
order-independent (rows, hash) the benchmark checks, and, when the leaf has
an ``oracle_sql()`` entry, compare its output byte-exactly with the DuckDB
oracle (``tools/exact_hash.py``'s canonical frame hash). With ``--write``
the hashes go to ``board_refs.json``, but only when every oracle agrees.
Run from the root of a checkout; it takes a few minutes, so the benchmark
runs it once, not per run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="confirm_", dir=os.path.join(ROOT, ".perfbench_work"))
    os.environ.update({"TMPDIR": work, "PYTHONPATH": ROOT, "SPARK_GRAFT_DRIVER_MEM": "4g"})
    tempfile.tempdir = work
    try:
        import duckdb
        from exact_hash import TABLES, frame_hash

        import __spark_entry__ as entry
        import inputs
        import workloads
        from docetl_spark.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        spark = get_spark(master=f"local[{nproc}]", shuffle_partitions=nproc, app_name="confirm_refs",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        data = os.path.join(HERE, "data", workloads.BOARD_SF)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        qs, oracles = entry.queries(), entry.oracle_sql()
        refs, bad = {}, []
        for name in inputs.BOARD_LEAVES:
            refs[name] = list(inputs.row_hash(qs[name](spark, data)))
            if name in oracles:
                got, _ = frame_hash(qs[name](spark, data).toPandas())
                want, _ = frame_hash(con.execute(oracles[name]).fetchdf())
                verdict = "oracle-exact" if got == want else "ORACLE MISMATCH"
                if got != want:
                    bad.append(name)
            else:
                verdict = "no oracle (recorded as run)"
            print(f"{name:<28} rows={refs[name][0]:<6} {verdict}", flush=True)
        spark.stop()
        if bad:
            print(f"not written: {bad} disagree with their oracles")
            return 1
        if args.write:
            with open(os.path.join(HERE, "board_refs.json"), "w") as f:
                json.dump(refs, f, indent=1, sort_keys=True)
                f.write("\n")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

"""Start-up latency of one Python task: a warm 1-row ``pandas_udf`` collect.

    python tools/py_task_latency.py [--master local[4]] [--runs 5]
                                    [--daemon pyspark.daemon]

Builds the engine session (``session.get_spark``) with the Spark event log
on, runs one untimed warm-up collect and then ``--runs`` collects of a
1-row, 1-partition frame through a ``pandas_udf`` that returns the wall
clock at its call. Each collect is one job with one task. Per run it
prints:

* ``launch_to_udf_ms``: the UDF's wall clock minus the task's
  ``Launch Time`` (both from this host's clock);
* ``run_ms``: the task's ``Executor Run Time`` from its
  ``SparkListenerTaskEnd`` event;
* ``collect_ms``: the driver-side wall time of the collect call;

then the median of each, and the daemon module the session used
(``--daemon pyspark.daemon`` measures the stock daemon).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import tempfile
import time

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pandas_udf(DoubleType())
def now(s: pd.Series) -> pd.Series:
    return pd.Series([time.time()] * len(s))


def _task_events(log_dir: str) -> dict[str, dict]:
    """``job description -> TaskEnd event`` from the one event log in log_dir."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_desc, tasks = {}, {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                for sid in ev["Stage IDs"]:
                    stage_desc[sid] = desc
            elif ev["Event"] == "SparkListenerTaskEnd":
                tasks[stage_desc.get(ev["Stage ID"])] = ev
    return tasks


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--daemon", help="spark.python.daemon.module (default: the engine session's)")
    args = ap.parse_args()

    from docetl_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="py_task_latency_") as log_dir:
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.ui.showConsoleProgress": "false"}
        if args.daemon:
            conf["spark.python.daemon.module"] = args.daemon
        spark = get_spark(master=args.master, shuffle_partitions=1, app_name="py_task_latency",
                          extra_conf=conf)
        sc = spark.sparkContext
        daemon = sc.getConf().get("spark.python.daemon.module", "pyspark.daemon")
        frame = spark.range(0, 1, 1, 1).select(now("id").alias("t"))
        udf_at, collect_ms = {}, {}
        try:
            for i in range(args.runs + 1):
                name = f"run{i}"
                sc.setJobDescription(name)
                t0 = time.perf_counter()
                udf_at[name] = frame.collect()[0]["t"]
                collect_ms[name] = (time.perf_counter() - t0) * 1000
        finally:
            spark.stop()
        tasks = _task_events(log_dir)

    rows = []
    for i in range(1, args.runs + 1):
        name = f"run{i}"
        ev = tasks[name]
        launch_to_udf = udf_at[name] * 1000 - ev["Task Info"]["Launch Time"]
        rows.append((launch_to_udf, ev["Task Metrics"]["Executor Run Time"], collect_ms[name]))
        print(f"{name}  launch_to_udf_ms={launch_to_udf:7.1f}  run_ms={rows[-1][1]:6d}  "
              f"collect_ms={rows[-1][2]:7.1f}")
    med = [statistics.median(col) for col in zip(*rows)]
    print(f"median  launch_to_udf_ms={med[0]:7.1f}  run_ms={med[1]:6.0f}  collect_ms={med[2]:7.1f}  "
          f"daemon={daemon}  master={args.master}")


if __name__ == "__main__":
    main()

"""Plan-health audit: runs .explain over every __spark_entry__ query and
checks the physical plan for the properties that matter at 100 TB:

* parquet scans carry PushedFilters / pruned ReadSchema where expected
* small-dimension joins broadcast (no shuffle of the big side)
* no CartesianProduct without an explicit allowlist
* WholeStageCodegen spans exist (expressions stayed JVM-side)
* no WindowExec without partitioning (single-partition sort) outside
  intentional global top-k
* change-feed reads run one parquet scan per read schema, not one per
  commit

It also reports what building each plan costs: the py4j round
trips and the eager Spark jobs of the ``queries()[q](spark, sf)`` call.
A timed leaf of the benchmark's query board (``BOARD_LEAVES`` in
``perfbench/inputs.py``) is built a second time, and FAILs if that build
still runs a job: its input schemas are known by then.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import gc
import itertools
import re
import sys
import threading

sys.path.insert(0, ".")

# Queries where a global (unpartitioned) window or global sort is the
# intended semantics (total ordering / global top-k over a small result).
GLOBAL_ORDER_OK = {
    "tpch_q3_top10", "rank_docs", "topk_fts_docs", "knn_cosine_top5", "knn_lsh_top5",
    # global top-k: the rank window runs over the <= k post-limit slice
    "rank_likert_docs", "rank_calibrated_docs",
}
# Queries whose core is a deliberate pairwise candidate generation or a
# documented brute-force baseline (the scale path is the LSH variant):
# brute kNN = broadcast nested loop of a handful of query vectors.
CROSS_OK = {
    "link_resolve_repair",
    "knn_cosine_top5",
    # the recall certificate scores one shared brute frame (broadcast
    # nested loop of 5 query vectors) that both rankings derive from
    "knn_lsh_top5",
    # exact cosine blocking = the reference's own brute blocking phase
    # (equijoin.py:300-405), kept as the oracle-matched baseline; the LSH
    # bucketed scale path (lsh_planes>0) is pytest-covered
    "equijoin_embedding",
}
# Driver-side / multi-job queries where a single final plan isn't the story
# (knn_lsh_top5's recall certificate aggregates eagerly inside
# lsh_recall_at_k, so its returned plan is a local relation — auditing it
# would pay the full pipeline to inspect nothing).
SKIP = {"cdc_merge_lww", "cdc_stream_lww", "cluster_docs", "incremental_dedup_docs", "knn_lsh_top5"}
# Change-feed reads: one parquet scan per distinct read schema
# (cdc/changes.py), never a union of per-commit scans.
FEED_QUERIES = {"cdc_change_feed", "cdc_feed_net_slice"}


def audit(name: str, plan: str) -> list[str]:
    issues = []
    if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) and name not in CROSS_OK:
        issues.append("cartesian/nested-loop join present")
    if name in FEED_QUERIES:
        schemas = re.findall(r"FileScan parquet .*ReadSchema: (\S+)", plan)
        if len(schemas) > len(set(schemas)):
            issues.append(f"change feed: {len(schemas)} parquet scans for "
                          f"{len(set(schemas))} read schema(s)")
    # note: WholeStageCodegen spans aren't visible in a pre-execution
    # AdaptiveSparkPlan string, so codegen presence isn't checkable here
    if name not in GLOBAL_ORDER_OK:
        # WindowExec prints 'Window [fns], [partSpec], [orderSpec]'. An
        # unpartitioned-but-ordered window (all rows to ONE task) prints
        # only 2 groups with the order spec ('ASC'/'DESC') second; a
        # partitioned-unordered window also prints 2 groups but the second
        # is the partition columns. Flag only the former.
        for line in plan.splitlines():
            s = line.strip().lstrip("+-: ").strip()
            if s.startswith("Window ") and s.count("], [") == 1:
                second = s.rsplit("], [", 1)[1]
                if " ASC" in second or " DESC" in second:
                    issues.append("unpartitioned Window (single-task sort)")
                    break
    return issues


_BUILDS = itertools.count()


def build_cost(spark, build):
    """(build(), py4j commands this thread sent, Spark jobs it ran).
    Object releases go out on py4j's finalizer thread and are not
    counted."""
    from py4j.clientserver import ClientServerConnection

    sc, me, calls = spark.sparkContext, threading.get_ident(), [0]
    real = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            calls[0] += 1
        return real(self, *args, **kwargs)

    gc.collect()
    group = f"explain_audit_build_{next(_BUILDS)}"
    sc.setJobGroup(group, group)
    ClientServerConnection.send_command = counting
    try:
        out = build()
    finally:
        ClientServerConnection.send_command = real
        sc.setJobGroup(None, None)
    return out, calls[0], len(sc.statusTracker().getJobIdsForGroup(group))


def board_leaves() -> set[str]:
    """The benchmark's timed query-board leaves."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("perfbench_inputs", "perfbench/inputs.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return set(mod.BOARD_LEAVES)


def main() -> int:
    import __spark_entry__ as em
    from docetl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[8]", shuffle_partitions=8, app_name="explain_audit")

    timed = board_leaves()
    failures = 0
    for name, fn in em.queries().items():
        if only and name not in only:
            continue
        if name in SKIP:
            print(f"skip  {name} (multi-job/driver-side)")
            continue
        df, calls, jobs = build_cost(spark, lambda: fn(spark, sf_dir))
        plan = df._jdf.queryExecution().executedPlan().toString()
        issues = audit(name, plan)
        build = f"build: {calls} py4j, {jobs} jobs"
        if name in timed:
            _, calls, jobs = build_cost(spark, lambda: fn(spark, sf_dir))
            build += f"; again: {calls} py4j, {jobs} jobs"
            if jobs:
                issues.append(f"board leaf build runs {jobs} Spark job(s) after its first call")
        scans = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        bhj = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        status = "FAIL " if issues else "ok   "
        failures += bool(issues)
        print(f"{status}{name}: bhj={bhj} smj={smj} "
              f"pushed={[s for s in scans if s][:2]} "
              f"readcols={[len(r.split(',')) for r in reads]} [{build}] {issues or ''}")
    print(f"\n{failures} plan failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

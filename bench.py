"""Benchmark harness (driver contract).

Default mode: on ``local[$SPARK_GRAFT_CPUS]``, (1) replay a deterministic
north-rule change stream (repo, path, commit, lang, content) through the
CDC merge-apply engine and measure sustained change-events/sec, then
(2) time the headline queries from ``__spark_entry__`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1). Prints ONE JSON
line: {"metric", "value", "unit", "queries", "sf", ...}.

Scaling mode (``--scaling``): runs the identical replay at local[8] and
local[32] in fresh JVMs (subprocesses) and reports throughput at both plus
efficiency = (eps_32 / eps_8) / 4 — the sandbox stand-in for the north
rule's N -> 4N executor criterion (BASELINE.json). Results are written to
BENCH_SCALING.json.

Usage:
    python bench.py                    # full bench, one JSON line on stdout
    python bench.py --scaling          # two-parallelism scaling evidence
    python bench.py --replay-only --master local[8] --events 4000000
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import pandas as pd  # module-level so pandas-UDF type hints resolve

HEADLINE = [
    "cdc_merge_lww",
    # ungrouped (per-batch) replay variant: like-for-like with the r1-r3
    # boards, while cdc_merge_lww carries the coalesce_batches=4 knob
    "cdc_merge_lww_ungrouped",
    "tpch_q1",
    "tpch_q3_top10",
    "revenue_by_nation",
    "top_events_per_user",
    "code_reduce_groups",
    "reduce_merge_salted",
    "equijoin_verify",
    "resolve_majority_canon",
    "gather_rendered",
    "topk_fts_docs",
    "dedup_exact_docs",
    "near_dup_minhash_lsh",
    "knn_cosine_top5",
    "text_quality",
    "equijoin_embedding",
    "rank_docs",
    "link_resolve_repair",
    "cluster_docs",
    "cdc_stream_lww",
    # round-2 surface
    "parsing_fanout_docs",
    "sample_stratified",
    "simhash_docs",
    "lang_id_docs",
    "knn_lsh_top5",
    "multimodal_features",
    # round-3 surface
    "rank_likert_docs",
    "rank_calibrated_docs",
    "gather_hierarchy_docs",
    "reduce_lineage_docs",
    "extract_reformat_cert",
    "extract_pointer_docs",
    # round-4 surface
    "doc_chunking_macro",
    "knn_ivf_top5",
    # round-5 surface (docetl build macro set)
    "doc_chunking_topk_macro",
    "cascade_filter_docs",
    "hierarchical_reduce_events",
    # (incremental_dedup_docs / _embedding stay off the board like every
    # multi-commit ingest pipeline: ~15s each at sf0.1, 3 fenced ingests
    # per run — correctness-gated via the oracle, not timed per round)
]


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _materialize(df) -> int:
    """Force full execution; the noop sink writes every row, no collect."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _map_stage():
    """A DocETL map-operator equivalent run per microbatch (north rule):
    per-row content sha256 (the row invariant, JVM-side), token count and
    language id (JVM-side column exprs from docetl_spark.functions.text),
    and a quality score as an Arrow-vectorized pandas UDF — representative
    of the reference's LLM-map output columns, computed deterministically.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from docetl_spark.functions.text import token_count

    @pandas_udf("double")
    def quality(content: pd.Series) -> pd.Series:
        # all .str.count passes are vectorized C regex — no per-row Python
        s = content.fillna("")
        n = s.str.len().clip(lower=1)
        alpha = s.str.count(r"[A-Za-z]")
        digit = s.str.count(r"[0-9]")
        ws = s.str.count(r"\s")
        upper = s.str.count(r"[A-Z]")
        punct = s.str.count(r"[^\w\s]")
        hexish = s.str.count(r"[0-9a-f]{8}")
        repeats = s.str.count(r"(.)\1\1")
        words = ws + 1
        return (
            (alpha / n) * 0.35
            + (1.0 - digit / n) * 0.2
            + (ws / n).clip(upper=0.2)
            + (1.0 - upper / alpha.clip(lower=1)) * 0.1
            + (1.0 - punct / words) * 0.1
            + (1.0 - hexish / words).clip(lower=0.0) * 0.03
            + (1.0 - repeats / n) * 0.02
        )

    def stage(df):
        c = F.coalesce(F.col("content"), F.lit(""))
        return (
            df.withColumn("content_sha", F.sha2(c, 256))
            .withColumn("n_tokens", token_count(c))
            .withColumn("quality", quality(c))
        )

    return stage


def run_replay(master: str, n_events: int, batch_size: int, shuffle_partitions: int,
               keys_ratio: float = 0.05, mode: str = "cow") -> dict:
    """One CDC replay: parquet binlog -> map stage -> merge-apply per batch.

    ``keys_ratio`` = distinct keys / events. 0.05 is an update-heavy
    stream (LWW dedup collapses 20x); 1.0 is an insert-only initial load
    (every event wins, the fast path — per-event work dominates, which is
    what the scaling evidence measures).
    """
    from docetl_spark.cdc import create_cdc_table, read_state, replay_events
    from docetl_spark.session import get_spark
    from docetl_spark.sources.parquet import read_parquet
    from docetl_spark.sources.testgen import gen_change_events

    spark = get_spark(master=master, shuffle_partitions=shuffle_partitions, app_name="bench_replay")
    path = tempfile.mkdtemp(prefix="bench_cdc_")
    binlog_dir = tempfile.mkdtemp(prefix="bench_binlog_")
    shutil.rmtree(path, ignore_errors=True)
    try:
        # Materialize the binlog to parquet first (untimed): the replay
        # measures WAL-tail -> merge-apply throughput, not data generation.
        # Fixed file layout (16 files) so every parallelism level replays
        # byte-identical input; Spark re-splits by maxPartitionBytes.
        gen_change_events(
            spark, n_events, n_keys=max(1000, int(n_events * keys_ratio)),
            batch_size=batch_size, partitions=16, unique_keys=keys_ratio >= 1.0,
        ).write.mode("overwrite").parquet(binlog_dir)
        events = read_parquet(spark, binlog_dir)

        # Map stage runs as winner_stages: enrichment after LWW dedup —
        # a losing event's derived columns are unobservable, so computing
        # them is pure waste (the O(keys)-not-O(events) transform rule).
        table = create_cdc_table(path, ["repo", "path", "commit"], num_buckets=32)
        known_batches = list(range((n_events + batch_size - 1) // batch_size))
        t0 = time.time()
        metrics = replay_events(spark, table, events, winner_stages=[_map_stage()],
                                batch_ids=known_batches, mode=mode)
        wall = time.time() - t0
        compact_sec = 0.0
        if mode == "mor":
            from docetl_spark.cdc import compact_state
            t1 = time.time()
            compact_state(spark, table)
            compact_sec = round(time.time() - t1, 3)
        n_final = read_state(spark, table).count()
        out = {
            "master": master,
            "mode": mode,
            "events": n_events,
            "batches": len(metrics),
            "replay_sec": round(wall, 3),
            "events_per_sec": round(n_events / wall, 1),
            "final_rows": n_final,
        }
        if mode == "mor":
            out["compact_sec"] = compact_sec
            out["events_per_sec_incl_compact"] = round(n_events / (wall + compact_sec), 1)
        return out
    finally:
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(binlog_dir, ignore_errors=True)
        spark.stop()


def run_queries(master: str, sf_dir: str, shuffle_partitions: int, names: list[str],
                repeats: int | None = None) -> dict:
    """Per-query wall time, median of ``repeats`` runs (default 3).

    This VM's shared disk swings single timings ±30-60% (CLAUDE.md
    measurement discipline), so a single sample per query is not evidence
    — r3's board carried two 4x outliers that were pure noise. Rounds are
    interleaved (q1..qN, q1..qN, ...) rather than back-to-back per query so
    a transient disk stall degrades one ROUND, not every sample of one
    query.
    """
    import __spark_entry__ as entrymod
    from docetl_spark.session import get_spark

    repeats = repeats or int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_REPEATS", "3"))
    spark = get_spark(master=master, shuffle_partitions=shuffle_partitions, app_name="bench_queries")
    qs = entrymod.queries()
    samples: dict[str, list[float]] = {name: [] for name in names if name in qs}
    for _ in range(repeats):
        for name in samples:
            t0 = time.time()
            _materialize(qs[name](spark, sf_dir))
            samples[name].append(time.time() - t0)
    return {name: round(_median(ts), 3) for name, ts in samples.items()}


def _median(ts: list[float]) -> float:
    """True median — averages the two middle samples for even counts
    (``sorted(ts)[n // 2]`` is the upper-middle, biased high)."""
    s = sorted(ts)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def scaling(n_events: int, batch_size: int, n_cores: int = 2, repeats: int = 3) -> dict:
    """Same replay, same input, at N and 4N cores, each run a fresh JVM.

    The sandbox has 16 physical cores (32 SMT threads), so N=2 vs 4N=8
    keeps both levels on real cores — the honest stand-in for N vs 4N
    executors. Each level runs ``repeats`` times (this VM's shared disk is
    noisy); the median throughput is reported.
    """
    out: dict = {
        "criterion": "throughput scaling efficiency >= 0.8 from N to 4N cores",
        "events": n_events, "batch_size": batch_size, "repeats": repeats,
    }
    eps: dict[int, float] = {}
    for cores in (n_cores, 4 * n_cores):
        runs = []
        for _ in range(repeats):
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--replay-only", "--master", f"local[{cores}]",
                "--events", str(n_events), "--batch-size", str(batch_size),
                "--shuffle-partitions", str(cores),
                "--keys-ratio", "1.0",
            ]
            res = subprocess.run(cmd, capture_output=True, text=True,
                                 cwd=os.path.dirname(os.path.abspath(__file__)))
            line = [ln for ln in res.stdout.strip().splitlines() if ln.startswith("{")][-1]
            runs.append(json.loads(line))
        runs.sort(key=lambda r: r["events_per_sec"])
        med = runs[len(runs) // 2]
        eps[cores] = med["events_per_sec"]
        out[f"local[{cores}]"] = {"median": med, "all_events_per_sec": [r["events_per_sec"] for r in runs]}
    lo, hi = n_cores, 4 * n_cores
    out["speedup"] = round(eps[hi] / eps[lo], 3)
    out["scaling_efficiency"] = round(eps[hi] / eps[lo] / 4.0, 3)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--replay-only", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument("--events", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "4000000")))
    ap.add_argument("--batch-size", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_BATCH", "1000000")))
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--keys-ratio", type=float, default=0.05)
    ap.add_argument("--mode", default="cow", choices=["cow", "mor"])
    ap.add_argument("--scale-cores", type=int, default=2,
                    help="N for the N vs 4N scaling pair")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = args.master or f"local[{cpus}]"
    shuffle = args.shuffle_partitions or cpus
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    if args.replay_only:
        print(json.dumps(run_replay(master, args.events, args.batch_size, shuffle,
                                    args.keys_ratio, args.mode)))
        return

    if args.scaling:
        result = scaling(int(os.environ.get("SPARK_GRAFT_SCALE_EVENTS", "2000000")),
                         int(os.environ.get("SPARK_GRAFT_SCALE_BATCH", "2000000")),
                         n_cores=args.scale_cores)
        out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALING.json")
        merged = {}
        if os.path.exists(out_path):
            with open(out_path) as f:
                merged = json.load(f)
            if "pairs" not in merged:  # migrate single-pair layout
                merged = {"pairs": {f"2x8": merged}} if "speedup" in merged else {"pairs": {}}
        merged.setdefault("pairs", {})[f"{args.scale_cores}x{4 * args.scale_cores}"] = result
        with open(out_path, "w") as f:
            json.dump(merged, f, indent=2)
        print(json.dumps(result))
        return

    # Headline = merge-on-read sustained rate including its compaction
    # (the mode you run a 10^10-event ingest in), measured at the SAME
    # volume as BASELINE.md's sustained number (20M events) so the fixed
    # compaction cost amortizes identically — no 4M-vs-20M ambiguity.
    # Copy-on-write reported alongside at 4M (the low-read-latency mode;
    # CoW write amplification makes 20M pointlessly slow to re-measure
    # every round).
    mor_events = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS_MOR", "20000000"))
    replay_mor = run_replay(master, mor_events, args.batch_size, shuffle, mode="mor")
    replay_cow = run_replay(master, args.events, args.batch_size, shuffle, mode="cow")
    timings = run_queries(master, sf_dir, shuffle, HEADLINE)
    print(json.dumps({
        "metric": "merge_apply_change_events_per_sec",
        "value": replay_mor["events_per_sec_incl_compact"],
        "unit": "events/sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "replay_mor": replay_mor,
        "replay_cow": replay_cow,
    }))


if __name__ == "__main__":
    main()

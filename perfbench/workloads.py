"""The benchmark's workloads. Each is a closed loop: one driver thread
replays a seeded backlog or runs queries back to back.

Every workload reports the same end-to-end metrics (see ``run.py``):
``ingest_eps`` for its change-ingest side, ``read_total_s`` and
``read_geomean_s`` over the medians of its read-side operation kinds, and
``setup_s``. Checks run outside the timed regions and count as failed
operations when they do not hold.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import inputs

# Ingest workload sizes: 4 batches of 10k events over 2k keys (keys = 5% of
# events), 8 buckets. The first WARM_BATCHES batches are replayed untimed
# into the same table, as the warm-up; the rest are timed. Sized so one run
# fits the benchmark's time budget on a 4-core box; the per-batch serial
# floor, not the event count, dominates.
N_BATCHES = 4
WARM_BATCHES = 1
BATCH_EVENTS = 10_000
N_BUCKETS = 8
PROBES = 3          # read_keys probe sets, one of them per read-back round
READ_ROUNDS = 3     # MOR read-back rounds per run, at the least; the first
                    # still runs partly cold, so the medians drop it
BOARD_ROUNDS = 3    # timed board rounds per run, at the least; the medians
                    # drop the first, which still runs partly cold
COMPACT_RESERVE_S = 2.0  # --seconds share kept for the MOR compaction
SETUP_REPS = 3      # input preparation repeats; setup_s takes the median
# Board runs per round of each ingest leaf: ingest_eps on the board rests on
# that one streaming leaf, whose run time swings more than the others'.
INGEST_LEAF_REPS = 2
WARM_THREADS = 3    # driver threads of the untimed, checked warm-up work
BOARD_SF = "sf0.001"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _geomean(xs: list[float]) -> float:
    return statistics.geometric_mean(xs) if xs else float("nan")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path)
               for f in fs if f.endswith(".parquet"))


def _first_diff(got: list[tuple], want: list[tuple]) -> str:
    """Where two sorted row lists part, for a failed check's message."""
    if got == want:
        return "equal"
    i = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
    cut = (lambda r: None if r is None else tuple(str(x)[:40] for x in r))
    return (f"{len(got)} rows vs {len(want)} expected; first difference at row {i}: "
            f"{cut(got[i] if i < len(got) else None)} vs {cut(want[i] if i < len(want) else None)}")


def _canary(ctx) -> float:
    """tpch_q1 on the frozen board corpus, second of two runs: the
    ambient-noise canary recorded by every run."""
    q = ctx.entry.queries()["tpch_q1"]
    data = ctx.board_data()
    _noop(q(ctx.spark, data))
    t = time.perf_counter()
    _noop(q(ctx.spark, data))
    return time.perf_counter() - t


# -- MOR ingest -------------------------------------------------------------

def _gen_binlog(ctx, path: str, n_events: int, batch_events: int, seed: int) -> None:
    inputs.gen_change_events(
        ctx.spark, n_events, n_keys=max(100, n_events // 20), batch_size=batch_events,
        seed=seed, partitions=ctx.nproc,
    ).write.mode("overwrite").parquet(path)


def _probe_sets(binlog_rows, seed: int) -> list[list[tuple]]:
    """Fixed, seeded probe key sets: each mixes one key from the hottest
    tenth of repos, one from the middle and one from the coldest tenth
    (keys are ranked by event count, ties by key)."""
    keys = list(inputs.KEY_COLS)
    counts = binlog_rows[keys].value_counts().rename("n").reset_index()
    ranked = list(counts.sort_values(["n", *keys], ascending=[False] + [True] * len(keys))
                  [keys].itertuples(index=False, name=None))
    rng = random.Random(seed)
    tenth = max(1, len(ranked) // 10)
    bands = [ranked[:tenth], ranked[4 * tenth:6 * tenth], ranked[-tenth:]]
    return [[rng.choice(b) for b in bands] for _ in range(PROBES)]


def run_mor(ctx) -> dict:
    from docetl_spark.cdc import compact_state, create_cdc_table, read_changes, read_keys, read_state, replay_events
    from docetl_spark.lake.table import LakeTable

    spark = ctx.spark
    n_events = N_BATCHES * BATCH_EVENTS
    timed_batches = list(range(WARM_BATCHES, N_BATCHES))

    def prepare(rep: int) -> float:
        """Generate the binlog and create the table; returns the time taken."""
        t = time.perf_counter()
        _gen_binlog(ctx, os.path.join(ctx.work, f"binlog{rep}"), n_events, BATCH_EVENTS, seed=ctx.seed)
        create_cdc_table(os.path.join(ctx.work, f"table{rep}"), list(inputs.KEY_COLS), num_buckets=N_BUCKETS)
        return time.perf_counter() - t

    ctx.log("inputs")
    preps = [prepare(0)]
    table = LakeTable(os.path.join(ctx.work, "table0"))
    binlog = os.path.join(ctx.work, "binlog0")
    events = spark.read.parquet(binlog)
    t = time.perf_counter()
    binlog_rows = inputs.read_binlog(binlog)  # for the probe keys and the oracles
    probes = _probe_sets(binlog_rows, ctx.seed)
    probe_frames = [spark.createDataFrame(p, list(inputs.KEY_COLS)) for p in probes]
    probe_s = time.perf_counter() - t

    # Untimed warm-up: the first batches go into the same table, so JIT
    # compilation and Python-worker start-up are paid before the timed
    # replay continues from the fence. The read paths warm up in the
    # checks, which run on the real table before the timed reads.
    ctx.log("warm-up")
    t = time.perf_counter()
    warm = replay_events(spark, table, events, winner_stages=[inputs.map_stage()],
                         batch_ids=list(range(WARM_BATCHES)), mode="mor")
    ctx.setup["warmup_s"] = time.perf_counter() - t
    # repeat the input preparation, for a median in setup_s; drop the copies
    for rep in range(1, SETUP_REPS):
        preps.append(prepare(rep))
        shutil.rmtree(os.path.join(ctx.work, f"binlog{rep}"))
        shutil.rmtree(os.path.join(ctx.work, f"table{rep}"))
    ctx.setup["inputs_s"] = _median(preps) + probe_s

    # ---- timed: replay ---------------------------------------------------
    ctx.start_timed()
    ctx.attempt(len(timed_batches))
    with ctx.phase("ingest"):
        t = time.perf_counter()
        metrics = replay_events(spark, table, events, winner_stages=[inputs.map_stage()],
                                batch_ids=timed_batches, mode="mor")
        replay_s = time.perf_counter() - t
    ctx.stop_timed()
    if len([m for m in metrics if not m.skipped]) != len(timed_batches):
        ctx.fail(f"{len(metrics)} merge commits for {len(timed_batches)} batches")

    # ---- untimed checks on the uncompacted table, against oracles computed
    # in the driver; they run side by side and warm the read paths before
    # the timed reads ----------------------------------------------------------
    ctx.log("checks")
    want = inputs.final_state_oracle(binlog_rows)
    winners = inputs.change_winners(binlog_rows)
    probed = {k for p in probes for k in p}
    exp = [r for r in want if r[:len(inputs.KEY_COLS)] in probed]
    probed_df = spark.createDataFrame(sorted(probed), list(inputs.KEY_COLS))
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        before, got, feed = pool.map(lambda f: f(), [
            lambda: inputs.collect_rows(read_state(spark, table)),
            lambda: inputs.collect_rows(read_keys(spark, table, probed_df)),
            lambda: inputs.collect_rows(read_changes(spark, table, 1), (*inputs.KEY_COLS, "lsn")),
        ])
    committed = sum(m.upserts + m.deletes for m in warm + metrics)
    ctx.check(before == want, f"state: {_first_diff(before, want)}")
    ctx.check(got == exp, f"read_keys over every probe key: {_first_diff(got, exp)}")
    ctx.check(feed == winners and len(feed) == committed,
              f"feed rows {len(feed)} / committed {committed} / winners {len(winners)}: {_first_diff(feed, winners)}")
    live_files = len(table.snapshot().all_files)

    # ---- timed: read-back rounds against the (uncompacted) table ------------
    # A round is one scan, one probe set and one feed read; at least
    # READ_ROUNDS run, more while the next one still fits --seconds (less
    # the compaction still to come).
    scans, lookups, feeds = [], [], []
    budget = ctx.seconds - COMPACT_RESERVE_S
    ctx.start_timed(resume=True)
    rounds, rounds_start = 0, time.perf_counter()
    while rounds < READ_ROUNDS or ctx.fits_another(rounds, rounds_start, budget):
        pf = probe_frames[rounds % PROBES]
        rounds += 1
        with ctx.phase("read"):
            ctx.timed_op(scans, "cdc.replay.read_state", lambda: _noop(read_state(spark, table)))
            ctx.timed_op(lookups, "cdc.replay.read_keys", lambda: _noop(read_keys(spark, table, pf)))
            ctx.timed_op(feeds, "cdc.changes.read_changes", lambda: _noop(read_changes(spark, table, 1)))

    # ---- timed: compaction (MOR pays its deferred dedup here) ----------------
    ctx.attempt(1)
    with ctx.phase("ingest"):
        t = time.perf_counter()
        compact_state(spark, table)
        compact_s = time.perf_counter() - t
    ctx.stop_timed()
    after = inputs.collect_rows(read_state(spark, table))
    ctx.check(after == before, f"state changed by compaction: {_first_diff(after, before)}")

    ctx.log("history, canary")
    hist = table.history()
    ts = [h["timestamp_ms"] / 1000.0 for h in hist if h["operation"] == "merge"]
    gaps = [b - a for a, b in zip(ts, ts[1:])]
    write_amp = _dir_bytes(os.path.join(table.path, "data")) / _dir_bytes(binlog)
    canary = _canary(ctx)

    kinds = {"scan_s": _median(scans), "lookup_p50_s": _median(lookups), "feed_read_s": _median(feeds)}
    ctx.samples.update({"scan_s": scans, "lookup_s": lookups, "feed_read_s": feeds,
                        "commit_gap_s": gaps,
                        "batch_s": [m.duration_sec for m in metrics]})
    return {
        "ingest_eps": len(timed_batches) * BATCH_EVENTS / (replay_s + compact_s),
        "read_total_s": sum(kinds.values()),
        "read_geomean_s": _geomean(list(kinds.values())),
        "detail": {
            **kinds,
            "replay_s": replay_s,
            "compact_s": compact_s,
            "commit_gap_p50_s": _median(gaps),
            "write_amp": write_amp,
            "live_files": live_files,
            "read_rounds": rounds,
            "feed_rows": len(feed),
                        "tpch_q1_canary_s": canary,
        },
    }


# -- query board ------------------------------------------------------------

def run_board(ctx) -> dict:
    spark = ctx.spark
    qs = ctx.entry.queries()
    with open(os.path.join(ctx.here, "board_refs.json")) as f:
        refs = json.load(f)
    leaves = list(inputs.BOARD_LEAVES)

    preps = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        data = ctx.board_data(fresh=True)
        preps.append(time.perf_counter() - t)
    ctx.setup["inputs_s"] = _median(preps)

    # Untimed warm-up round, which is also the output check. Its leaves run
    # side by side, so their cold starts overlap; the timed rounds run one
    # leaf at a time.
    def check(name: str) -> None:
        try:
            got = list(inputs.row_hash(qs[name](spark, data)))
        except Exception as e:  # noqa: BLE001 - a failing leaf is a counted failure
            ctx.fail(f"{name} raised {type(e).__name__}: {str(e)[:200]}")
            return
        ctx.check(got == refs[name], f"{name}: rows/hash {got} != reference {refs[name]}")

    t = time.perf_counter()
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        list(pool.map(check, leaves))
    ctx.setup["warmup_s"] = time.perf_counter() - t
    rng = random.Random(ctx.seed)

    samples: dict[str, list[float]] = {n: [] for n in leaves}
    ctx.start_timed()
    rounds = 0
    while rounds < BOARD_ROUNDS or ctx.fits_another(rounds, ctx.timed_start, ctx.seconds):
        rounds += 1
        for name in rng.sample(leaves, len(leaves)):
            ingest = name in inputs.BOARD_INGEST_LEAVES
            with ctx.phase("ingest" if ingest else "read"):
                for _ in range(INGEST_LEAF_REPS if ingest else 1):
                    ctx.timed_op(samples[name], f"board.{name}", lambda: _noop(qs[name](spark, data)))
    ctx.stop_timed()

    med = {n: _median(s) for n, s in samples.items()}
    events_rows = spark.read.parquet(os.path.join(data, "events.parquet")).count()
    ingest = [med[n] for n in inputs.BOARD_INGEST_LEAVES]
    reads = [m for n, m in med.items() if n not in inputs.BOARD_INGEST_LEAVES]
    ctx.samples.update({f"board.{n}": s for n, s in samples.items()})
    return {
        "ingest_eps": events_rows * len(ingest) / sum(ingest),
        "read_total_s": sum(reads),
        "read_geomean_s": _geomean(reads),
        "detail": {
            "board_total_s": sum(med.values()),
            "board_geomean_s": _geomean(list(med.values())),
            "rounds": rounds,
            "tpch_q1_canary_s": med["tpch_q1"],
            **{f"board.{n}_s": m for n, m in med.items()},
        },
    }

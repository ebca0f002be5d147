"""Benchmark entry point: one workload per process, on ``local[nproc]``.

    python3 perfbench/run.py --workload mor_update_heavy --seed 1 --seconds 20 --trace 0

Run from the root of a checkout: the engine (``docetl_spark``,
``__spark_entry__.py``) is imported from there, and every file the run
writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (results and spans, kept). The last line of stdout is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``, with
the end-to-end metrics when ``--trace 0`` and the per-layer metrics of a
traced run when ``--trace 1``. The exit code is 1 when an output check
fails and 2 when the checkout holds no engine.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("mor_update_heavy", "query_board")
DRIVER_MEM = "4g"  # well below the 15 GB of RAM of the 4-core reference box
# Host-speed probe: PROBE_ITERS sha256 passes over 1 MB on one thread take
# PROBE_REF_S on the reference box (4 vCPUs, idle). End-to-end metrics are
# reported at that reference speed, because this kind of shared host drifts
# by up to ±20% within a minute (see perfbench/README.md).
PROBE_ITERS = 240
PROBE_REF_S = 0.25

END_TO_END = {
    "ingest_eps": "events/s",
    "read_total_s": "s",
    "read_geomean_s": "s",
    "setup_s": "s",
}
BOARD_ROLLUPS = ("streaming", "functions.text", "functions.dedup", "operators", "plans", "tpch")


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric of a traced run, name -> unit."""
    import inputs
    import spans

    out = {
        "cdc.replay.replay_events.calls": "count",
        "cdc.replay.replay_events.busy_s": "s",
        "cdc.replay.read_state.busy_s": "s",
        "cdc.replay.read_keys.busy_s": "s",
        "cdc.replay.compact_state.busy_s": "s",
        "cdc.changes.plan_changes.busy_s": "s",
        "cdc.changes.read_changes.busy_s": "s",
        "cdc.merge.prepare_mor_merge.calls": "count",
        "cdc.merge.prepare_mor_merge.busy_s": "s",
        "cdc.merge.prepare_mor_merge.self_s": "s",
        "cdc.merge.commit_prepared_merge.calls": "count",
        "cdc.merge.commit_prepared_merge.busy_s": "s",
        "cdc.merge.prepared_useful_frac": "ratio",
        "cdc.merge.merge_apply.calls": "count",
        "cdc.merge.merge_apply.busy_s": "s",
        "cdc.merge.merge_apply.self_s": "s",
        "cdc.merge.compute_batch_stats.busy_s": "s",
        "cdc.merge.stats_s": "s",
        "cdc.merge.write_s": "s",
        "cdc.merge.keys_per_event": "ratio",
        "cdc.merge.buckets_touched": "count",
        "lake.table.write_bucket_files.calls": "count",
        "lake.table.write_bucket_files.busy_s": "s",
        "lake.table.read_buckets.busy_s": "s",
        "lake.table.commit.calls": "count",
        "lake.table.commit.busy_s": "s",
        "lake.table.commit.conflicts": "count",
        "lake.table.snapshot.calls": "count",
        "lake.table.files_written": "count",
        "lake.table.bytes_written_mb": "MB",
        "lake.table.live_files": "count",
        "lake.table.compact.busy_s": "s",
        "ingest.commit_gap_p50_s": "s",
        "ingest.write_amp": "ratio",
        "read.scan_s": "s",
        "read.lookup_p50_s": "s",
        "read.feed_read_s": "s",
    }
    for phase in ("ingest", "read"):
        for c in spans.SPARK_COUNTERS:
            out[f"spark.{phase}.{c}"] = "count" if c in ("jobs", "tasks") else c.rsplit("_", 1)[1].replace("mb", "MB")
    for leaf in inputs.BOARD_LEAVES:
        out[f"board.{leaf}_s"] = "s"
    for r in BOARD_ROLLUPS:
        out[f"board.{r}_s"] = "s"
    out.update({
        "board.total_s": "s",
        "board.geomean_s": "s",
        "trace.commit_path_frac": "ratio",
        "trace.spans": "count",
        "env.jvm_start_s": "s",
        "env.peak_rss_mb": "MB",
        "env.host_speed": "ratio",
        "env.loadavg_1m": "load",
        "env.tpch_q1_canary_s": "s",
    })
    return out


class Context:
    """Per-run state: the session, the work dir, op accounting, timed
    regions and phases."""

    def __init__(self, args, tracer):
        self.here = HERE
        self.seed, self.seconds = args.seed, args.seconds
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.tracer = tracer
        self.spark = None
        self.entry = None
        self.setup: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.phases: list[tuple[float, float, str]] = []
        self.timed_start = 0.0
        self._paused = 0.0
        self._board_data = None

    def log(self, msg: str) -> None:
        """Progress line on stderr, stamped with seconds since process start."""
        print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    # -- accounting --------------------------------------------------------

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        self.failures.append(msg)

    def check(self, ok: bool, msg: str) -> None:
        """An output check; a failed one counts as one failed operation."""
        if not ok:
            self.fail(f"check failed: {msg}")

    def timed_op(self, sink: list, name: str, fn) -> None:
        """Run one timed operation; its latency goes to ``sink``."""
        self.attempt()
        with self.tracer.span(name) if self.tracer else nullcontext():
            t = time.perf_counter()
            try:
                fn()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                self.fail(f"{name} raised {type(e).__name__}: {str(e)[:200]}")
                return
            sink.append(time.perf_counter() - t)

    # -- timing ------------------------------------------------------------

    def host_probe(self) -> None:
        """Time a fixed, engine-independent CPU task (sha256 over 1 MB
        buffers on one thread) while Spark is idle."""
        import hashlib

        buf = b"perfbench" * (1 << 17)
        t = time.perf_counter()
        for _ in range(PROBE_ITERS):
            hashlib.sha256(buf).digest()
        self.samples.setdefault("host_probe_s", []).append(time.perf_counter() - t)

    def host_speed(self) -> float:
        """Host speed relative to the reference box: > 1 when faster."""
        import statistics

        return PROBE_REF_S / statistics.median(self.samples["host_probe_s"])

    def start_timed(self, resume: bool = False) -> None:
        """Enter a timed region; ``resume`` keeps the clock of the
        previous one, so --seconds budgets the timed regions together."""
        self.host_probe()
        if resume:
            self.timed_start += time.perf_counter() - self._paused
        else:
            self.timed_start = time.perf_counter()
        if self.tracer:
            self.tracer.active = True

    def fits_another(self, rounds: int, rounds_start: float, budget: float) -> bool:
        """Whether one more round, as long as the mean round since
        ``rounds_start``, ends within ``budget`` seconds of the start of
        the timed region."""
        now = time.perf_counter()
        return now + (now - rounds_start) / max(1, rounds) <= self.timed_start + budget

    def stop_timed(self) -> None:
        self._paused = time.perf_counter()
        self.host_probe()
        if self.tracer:
            self.tracer.active = False

    @contextmanager
    def phase(self, name: str):
        self.log(f"phase {name}")
        t = time.time()
        try:
            yield
        finally:
            self.phases.append((t, time.time(), name))

    # -- inputs ------------------------------------------------------------

    def board_data(self, fresh: bool = False) -> str:
        """A private copy of the frozen board corpus in the work dir."""
        import workloads

        if self._board_data is None or fresh:
            dst = os.path.join(tempfile.mkdtemp(prefix="board_", dir=self.work), workloads.BOARD_SF)
            shutil.copytree(os.path.join(HERE, "data", workloads.BOARD_SF), dst)
            self._board_data = dst
        return self._board_data


def _percentile_line(name: str, xs: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples beyond it."""
    import statistics

    if not xs:
        return f"  {name:<28} no samples"
    s = sorted(xs)
    line = f"  {name:<28} p50 {statistics.median(s):.4f} s  n={len(s)}"
    for p in (99.9, 99.0, 90.0):
        if len(s) * (1 - p / 100) >= 10:
            k = min(len(s) - 1, int(round(p / 100 * (len(s) - 1))))
            return line + f"  p{p:g} {s[k]:.4f} s"
    return line + f"  max {s[-1]:.4f} s (too few samples for a tail percentile)"


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop_jvm(spark) -> None:
    """Stop Spark, then the JVM and every process under it, and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - escalate, then wait for good
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "docetl_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no engine (docetl_spark/, __spark_entry__.py) under {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    import spans as trace_mod

    tracer = trace_mod.Tracer() if args.trace else None
    ctx = Context(args, tracer)
    os.makedirs(ctx.work)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    for sub in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(ctx.work, sub))
    tmp = os.path.join(ctx.work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(ctx.work, "local"),
        # Spark's Python workers import the engine and this directory's
        # modules (the map stage's UDF lives in inputs.py)
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        # keep every JVM's temp and perf-data files out of the system /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = tmp
    load_before = os.getloadavg()

    result = None
    spark = None
    try:
        from docetl_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        }
        if args.trace:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.dir": "file://" + os.path.join(ctx.work, "eventlog")})
        spark = get_spark(master=f"local[{ctx.nproc}]", shuffle_partitions=ctx.nproc,
                          app_name=f"perfbench_{args.workload}", extra_conf=conf)
        ctx.spark = spark
        ctx.setup["jvm_start_s"] = time.perf_counter() - T0
        ctx.host_probe()
        import __spark_entry__
        import workloads

        ctx.entry = __spark_entry__
        if tracer:
            tracer.install()
        if args.workload == "query_board":
            result = workloads.run_board(ctx)
        else:
            result = workloads.run_mor(ctx)
    except Exception as e:  # noqa: BLE001 - report the run as failed, never hang
        import traceback

        traceback.print_exc()
        ctx.fail(f"run aborted: {type(e).__name__}: {str(e)[:300]}")
    finally:
        rss_mb = 0.0
        if spark is not None:
            from pyspark import SparkContext

            proc = getattr(SparkContext._gateway, "proc", None)
            jvm_kb = _vm_hwm_kb(proc.pid) if proc else 0
            rss_mb = (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0
            ctx.log("stopping spark")
            _stop_jvm(spark)
            ctx.log("spark stopped")
        if tracer:
            tracer.uninstall()

    load_after = os.getloadavg()
    correct = result is not None and ctx.failed == 0
    attempted = max(1, ctx.attempted)
    setup_s = sum(ctx.setup.values())
    tag = f"{args.workload}-s{args.seed}"

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"master=local[{ctx.nproc}] heap={DRIVER_MEM} "
          f"loadavg_1m={load_before[0]:.2f}->{load_after[0]:.2f}")
    for msg in ctx.failures:
        print(f"  FAILED {msg}")
    metrics: dict = {}
    if result is not None:
        speed = ctx.host_speed()
        raw = {"ingest_eps": result["ingest_eps"], "read_total_s": result["read_total_s"],
               "read_geomean_s": result["read_geomean_s"], "setup_s": setup_s}
        e2e = {k: _at_reference(k, v, speed) for k, v in raw.items()}
        print(f"  host speed {speed:.4f} x reference; metrics at reference speed (as measured)")
        for k, v in e2e.items():
            print(f"  {k:<28} {v:.4f} {END_TO_END[k]}  ({raw[k]:.4f})")
        print(f"  {'peak_rss_mb':<28} {rss_mb:.1f} MB (Spark JVM + Python driver VmHWM)")
        result["detail"]["peak_rss_mb"] = rss_mb
        for k, v in ctx.setup.items():
            print(f"  setup.{k:<22} {v:.4f} s")
        for k, v in result["detail"].items():
            print(f"  {k:<28} {v if isinstance(v, int) or v is None else round(v, 4)}")
        for k, xs in ctx.samples.items():
            print(_percentile_line(k, xs))
        print(f"  ops attempted={attempted} failed={ctx.failed} "
              f"ops_failed_frac={ctx.failed / attempted:.4f}")
        if args.trace:
            try:
                metrics = _per_layer(ctx, result, e2e, load_before, out_dir, tag)
            except Exception as e:  # noqa: BLE001 - a broken trace fails the run, never leaks files
                import traceback

                traceback.print_exc()
                ctx.fail(f"trace analysis: {type(e).__name__}: {e}")
                correct = False
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        with open(os.path.join(out_dir, f"{tag}-t{args.trace}.json"), "w") as f:
            json.dump({"e2e": e2e, "raw": raw, "host_speed": speed, "setup": ctx.setup, "detail": result["detail"],
                       "samples": ctx.samples, "failures": ctx.failures}, f, indent=1)

    shutil.rmtree(ctx.work, ignore_errors=True)
    parent = os.path.dirname(ctx.work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


def _per_layer(ctx, result: dict, e2e: dict, load_before, out_dir: str, tag: str) -> dict:
    """The traced run's per-layer metrics; also writes spans and a summary."""
    import statistics

    import inputs
    import spans as trace_mod

    tr = ctx.tracer
    names = tr.by_name()
    mm = tr.merge_metrics
    det = result["detail"]

    def span(name, field):
        return names.get(name, {}).get(field, 0)

    v: dict[str, float] = {}
    for key in per_layer_names():
        base, _, field = key.rpartition(".")
        if field in ("calls", "busy_s", "self_s"):
            v[key] = span(base, field)
    prepares = span("cdc.merge.prepare_mor_merge", "calls")
    v["cdc.merge.prepared_useful_frac"] = tr.prepared_published / prepares if prepares else 0.0
    v["cdc.merge.stats_s"] = sum(m.stats_sec for m in mm)
    v["cdc.merge.write_s"] = sum(m.write_sec for m in mm)
    events_in = sum(m.events_in for m in mm)
    v["cdc.merge.keys_per_event"] = sum(m.keys_in_batch for m in mm) / events_in if events_in else 0.0
    v["cdc.merge.buckets_touched"] = statistics.mean(m.buckets_touched for m in mm) if mm else 0.0
    v["lake.table.commit.conflicts"] = tr.conflicts
    v["lake.table.files_written"] = tr.files_written
    v["lake.table.bytes_written_mb"] = tr.bytes_written / 2**20
    v["lake.table.live_files"] = det.get("live_files", 0)
    v["ingest.commit_gap_p50_s"] = det.get("commit_gap_p50_s", 0.0)
    v["ingest.write_amp"] = det.get("write_amp", 0.0)
    v["read.scan_s"] = det.get("scan_s", 0.0)
    v["read.lookup_p50_s"] = det.get("lookup_p50_s", 0.0)
    v["read.feed_read_s"] = det.get("feed_read_s", 0.0)
    counters = trace_mod.spark_counters(os.path.join(ctx.work, "eventlog"), ctx.phases)
    for phase in ("ingest", "read"):
        got = counters.get(phase, dict.fromkeys(trace_mod.SPARK_COUNTERS, 0.0))
        for c in trace_mod.SPARK_COUNTERS:
            v[f"spark.{phase}.{c}"] = got[c]
    rollup: dict[str, float] = {}
    for leaf, layer in inputs.BOARD_LEAVES.items():
        leaf_s = det.get(f"board.{leaf}_s", 0.0)
        v[f"board.{leaf}_s"] = leaf_s
        rollup[layer] = rollup.get(layer, 0.0) + leaf_s
    for r in BOARD_ROLLUPS:
        v[f"board.{r}_s"] = rollup.get(r, 0.0)
    v["board.total_s"] = det.get("board_total_s", 0.0)
    v["board.geomean_s"] = det.get("board_geomean_s", 0.0)
    wall, charged = tr.commit_path()
    v["trace.commit_path_frac"] = charged / wall if wall else 0.0
    v["trace.spans"] = len(tr.spans)
    v["env.jvm_start_s"] = ctx.setup["jvm_start_s"]
    v["env.peak_rss_mb"] = det["peak_rss_mb"]
    v["env.host_speed"] = ctx.host_speed()
    v["env.loadavg_1m"] = load_before[0]
    v["env.tpch_q1_canary_s"] = det["tpch_q1_canary_s"]

    tr.dump(os.path.join(out_dir, f"{tag}-spans.jsonl"))
    overhead = _overhead(e2e, result["detail"], ctx.host_speed(), out_dir, tag)
    print(f"  trace: {len(tr.spans)} spans; commit path covers {charged:.3f} of {wall:.3f} s replay wall")
    for name, s in sorted(names.items()):
        print(f"  span {name:<40} calls={s['calls']:<5} busy={s['busy_s']:.3f} s  self={s['self_s']:.3f} s")
    for phase, c in counters.items():
        print(f"  spark[{phase}] " + " ".join(f"{k}={c[k]:.3f}" for k in trace_mod.SPARK_COUNTERS))
    print(f"  tracing overhead vs untraced run of the same seed: {overhead}")
    units = per_layer_names()
    return {k: {"value": v[k], "unit": units[k]} for k in units}


def _at_reference(name: str, value: float, speed: float) -> float:
    """A measured metric at the reference host speed: rates divided by
    the speed, times multiplied by it."""
    return value / speed if name.endswith("_eps") else value * speed


def _overhead(e2e: dict, detail: dict, speed: float, out_dir: str, tag: str) -> str:
    """Traced vs untraced ingest_eps, read_total_s and (on the board)
    board_total_s, all at the reference host speed, when the untraced run
    of the same workload and seed left its result in ``out_dir``."""
    path = os.path.join(out_dir, f"{tag}-t0.json")
    if not os.path.exists(path):
        return "n/a (run the same workload and seed with --trace 0 first)"
    with open(path) as f:
        base = json.load(f)
    pairs = {k: (e2e[k], base["e2e"][k]) for k in ("ingest_eps", "read_total_s")}
    if "board_total_s" in detail:
        pairs["board_total_s"] = (_at_reference("board_total_s", detail["board_total_s"], speed),
                                  _at_reference("board_total_s", base["detail"]["board_total_s"],
                                                base["host_speed"]))
    return ", ".join(f"{k} {traced / untraced - 1:+.1%}" for k, (traced, untraced) in pairs.items())


if __name__ == "__main__":
    sys.exit(main())

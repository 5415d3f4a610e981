#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload cdr_etl --seed 1 --seconds 15 --trace 0

Run from the repository root. The run

1. measures set-up: process start -> package imported -> `get_spark()`
   returned, before the harness does anything else;
2. generates (or reuses) the workload's inputs under `.perfbench/`;
3. runs passes until `--seconds` have elapsed: the first pass on the
   fresh session, the workload's warm-up passes, then steady passes, at
   least `MIN_STEADY` of them;
4. checks the outputs and probes the known standing defects (outside
   the timed window);
5. prints a table of every metric, then the result as the last line.

With `--trace 1` the first pass and half the steady passes are traced
(spans and per-layer counters, see `tracing.py`); the untraced passes in
between give the tracing overhead. Spans go to
`.perfbench/traces/<workload>-seed<seed>.json`.

The exit code is 0 only if every op ran and every output check passed.
A standing defect is named in the table but does not fail the run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import workloads
from tracing import SparkProbe, StreamRecorder, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
PACKAGE = "milan_telecom_etl__spark"
# The first pass is timed on its own. The workload's warm-up passes
# (workloads.WORKLOADS) come next and are reported in no metric; the
# steady figures are medians over the passes after them.
MIN_STEADY = 5

END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "steady_pass_s": "s",
    "op_p50_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.import_s": "s", "session.spark_start_s": "s",
    "sources.calls": "count", "sources.s": "s",
    "registry.build_s": "s", "registry.build_py4j_calls": "count",
    "registry.build_jobs": "count", "registry.memo_hit_ratio": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.plan_nodes": "count", "catalyst.exchanges": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.busy_ratio": "ratio",
    "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.gc_s": "s", "exec.peak_exec_mem_mb": "MB",
    "exec.task_skew": "ratio",
    "pyudf.rows_received": "count", "pyudf.bytes_sent_mb": "MB", "pyudf.bytes_received_mb": "MB",
    "caching.persisted_mb": "MB",
    "pipeline.load_geometries_s": "s", "pipeline.load_traffic_s": "s",
    "pipeline.load_mobility_s": "s", "pipeline.load_incremental_s": "s",
    "pipeline.register_views_s": "s", "pipeline.query_s": "s", "pipeline.jobs": "count",
    "pipeline.files_written": "count", "pipeline.write_amplification": "ratio",
    "streaming.batches": "count", "streaming.batch_p50_s": "s", "streaming.batch_max_s": "s",
    "streaming.add_batch_s": "s", "streaming.commit_s": "s", "streaming.rows": "count",
    "streaming.state_rows": "count",
    "first_pass.sources.s": "s", "first_pass.registry.build_s": "s",
    "first_pass.registry.build_py4j_calls": "count", "first_pass.catalyst.optimization_s": "s",
    "first_pass.exec.s": "s",
    "trace.overhead_s": "s", "trace.unattributed_ratio": "ratio",
}
# Counters Spark does not expose; reported as absent with the reason.
ABSENT = {
    "pyudf.rows_sent": "Python exec nodes carry no rows-sent SQL metric in Spark 4.1; "
                       "pyudf.rows_received counts the rows the workers returned",
    "caching.tracked_frames": "no op in registry_mix calls caching.tracked_persist; the "
                              "entries that do (knn_ivf_recall_curve, lsh_s_curve) cost "
                              "3-8 s a pass and do not fit the run length",
}


# --------------------------------------------------------------------------
# process and environment
# --------------------------------------------------------------------------


def process_start() -> float:
    """Epoch time this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    ticks = os.sysconf("SC_CLK_TCK")
    return time.time() - uptime + int(fields[19]) / ticks


def run_dir(workload: str) -> str:
    """This process's scratch directory: session temp files, the
    warehouse, check outputs. Removed when the run ends."""
    return os.path.join(CACHE, f"run-{workload}-{os.getpid()}")


def remove_stale_run_dirs(workload: str) -> None:
    """Scratch directories a killed run left behind."""
    own = run_dir(workload)
    for d in glob.glob(os.path.join(CACHE, f"run-{workload}-*")):
        if d != own:
            shutil.rmtree(d, ignore_errors=True)


def configure_env(workload: str) -> None:
    """Everything the session and its Python workers write stays under
    the run directory; the workers import the package from ROOT."""
    rd = run_dir(workload)
    tmp = os.path.join(rd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rd, "spark-local")
    os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(rd, "artifacts")
    # a 2 GiB driver heap instead of get_spark's 8 GiB default (the inputs
    # are small), committed in full at start: G1 otherwise grows the heap
    # by its GC-time heuristics, and peak RSS varied by 20% between runs
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # no JVM perf-data file under /tmp, from the launcher or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    opts = os.environ.get("SPARK_DRIVER_OPTS", "")
    if "java.io.tmpdir" not in opts:
        opts = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}".strip()
        os.environ["SPARK_DRIVER_OPTS"] = opts


def start_session(workload: str, tracer=None):
    """Import the package and start the session; returns
    (spark, import_s, spark_start_s, registry), where registry is the
    `queries_registry` module, or None for cdr_etl."""
    import importlib
    import pkgutil

    sys.path.insert(0, ROOT)
    t0 = time.time()
    if tracer is not None:
        workloads.install_source_spans(tracer)
    pkg = importlib.import_module(PACKAGE)
    if workload == "cdr_etl":
        importlib.import_module(f"{PACKAGE}.pipeline")
        registry = None
    else:
        for mod in pkgutil.iter_modules(pkg.__path__):
            if mod.name.startswith("registry_"):
                importlib.import_module(f"{PACKAGE}.{mod.name}")
        registry = importlib.import_module(f"{PACKAGE}.queries_registry")
    from milan_telecom_etl__spark.session import get_spark

    t1 = time.time()
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    t2 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1, registry


def stop_session(spark) -> None:
    """Stop the session and the JVM and wait until both have ended,
    together with the Python workers the JVM started."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while workers and time.time() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Peak memory of the JVM and its Python workers, sampled every 100 ms
    on a background thread: the JVM's RSS plus each worker's PSS, since
    forked workers share their parent's pages. Other JVM children are
    skipped: a process the JVM has spawned but not yet exec'd shares the
    JVM's address space and would count it twice."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self.peak_mb = self.peak_jvm_mb = self.peak_workers_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            jvm_mb = _memory_kb(self.pid, "VmRSS:") / 1024
            workers_mb = sum(
                _memory_kb(p, "Pss:") for p in _descendants(self.pid)[1:] if _is_python_worker(p)
            ) / 1024
            self.peak_mb = max(self.peak_mb, jvm_mb + workers_mb)
            self.peak_jvm_mb = max(self.peak_jvm_mb, jvm_mb)
            self.peak_workers_mb = max(self.peak_workers_mb, workers_mb)
            self._stop.wait(0.1)


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs (the `steal` column of /proc/stat): a host-contention
    reading to judge a run's timings by."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _is_python_worker(pid: int) -> bool:
    """The pyspark daemon and the workers it forks. A JVM child caught
    before exec shows the JVM's own command line, which also names
    `pyspark-shell`."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _memory_kb(pid: int, field: str) -> int:
    path = f"/proc/{pid}/status" if field == "VmRSS:" else f"/proc/{pid}/smaps_rollup"
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------


def prepare_inputs(workload: str, seed: int) -> dict:
    os.makedirs(CACHE, exist_ok=True)
    if workloads.WORKLOADS[workload]["kind"] == "registry":
        import gen_tables

        return {
            "tables": gen_tables.ensure_tables(CACHE, workloads.TABLES_SF, workloads.TABLES_SEED),
            "defect_tables": gen_tables.ensure_tables(
                CACHE, workloads.DEFECT_TABLES_SF, workloads.TABLES_SEED
            ),
        }
    import gen_cdr

    cdr_dir, manifest = gen_cdr.ensure_cdr(CACHE, seed)
    files = manifest["files"].values()
    return {
        "cdr_dir": cdr_dir,
        "manifest": manifest,
        "warehouse": os.path.join(run_dir(workload), "warehouse"),
        "raw_rows": sum(f["rows"] for f in files),
        "raw_bytes": sum(f["bytes"] for f in files),
    }


# --------------------------------------------------------------------------
# summaries
# --------------------------------------------------------------------------


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def pass_layers(p) -> dict:
    """Per-pass totals of the per-op layer counters."""
    tot: dict = {}
    batch_s: list[float] = []
    for op in p.ops:
        for k, v in op.layers.items():
            if k == "streaming.batch_s":
                batch_s.extend(v)
            elif k in ("exec.task_skew", "exec.peak_exec_mem_mb"):
                tot[k] = max(tot.get(k, 0.0), v)
            else:
                tot[k] = tot.get(k, 0) + v
    tot.update(p.layers)
    builds = tot.pop("registry.builds", 0)
    tot["registry.memo_hit_ratio"] = tot.pop("registry.memo_hits", 0) / builds if builds else 0.0
    wall = tot.pop("op.wall_s", 0.0)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tot["exec.busy_ratio"] = tot.get("exec.executor_run_s", 0.0) / (wall * cores) if wall else 0.0
    tot["trace.unattributed_ratio"] = tot.pop("trace.unattributed_s", 0.0) / wall if wall else 0.0
    tot["streaming.batch_p50_s"] = _median(batch_s)
    tot["streaming.batch_max_s"] = max(batch_s, default=0.0)
    return tot


def layer_metrics(passes, steady, session: dict, tracer) -> dict:
    first = pass_layers(passes[0])
    traced = [pass_layers(p) for p in steady if p.traced]
    untraced = [p.wall_s for p in steady if not p.traced]
    out = {}
    for name in PER_LAYER:
        if name.startswith("session."):
            out[name] = session[name]
        elif name.startswith("first_pass."):
            out[name] = first.get(name[len("first_pass."):], 0)
        elif name == "trace.overhead_s":
            out[name] = _median([p.wall_s for p in steady if p.traced]) - _median(untraced)
        else:
            out[name] = _median([t.get(name, 0) for t in traced])
    for name, reason in ABSENT.items():
        tracer.mark_absent(name, reason)
    return out


def end_to_end(passes, steady, setup_s: float, rss) -> tuple[dict, dict]:
    op_s = [op.wall_s for p in steady for op in p.ops if not op.error]
    tail_v, tail_pct, n = workloads.tail(op_s) if op_s else (0.0, 0.0, 0)
    metrics = {
        "setup_s": setup_s,
        "first_pass_s": passes[0].wall_s,
        "steady_pass_s": _median([p.wall_s for p in steady]),
        "op_p50_s": _median(op_s),
        "peak_rss_mb": rss.peak_mb,
    }
    per_op: dict[str, list[float]] = {}
    for p in steady:
        for op in p.ops:
            if not op.error:
                per_op.setdefault(op.name, []).append(op.wall_s)
    notes = {"op_steady_median_s": {k: round(_median(v), 4) for k, v in per_op.items()},
             "pass_walls_s": [round(p.wall_s, 3) for p in passes],
             "peak_jvm_rss_mb": rss.peak_jvm_mb, "peak_workers_pss_mb": rss.peak_workers_mb,
             "op_tail_s": tail_v, "op_tail_percentile": tail_pct, "op_samples": n,
             "steady_passes": len(steady)}
    return metrics, notes


def op_failures(passes) -> dict[str, str]:
    return {f"pass{p.index}.{op.name}": op.error for p in passes for op in p.ops if op.error}


def cdr_rows_per_s(steady, raw_rows: int) -> float:
    rates = []
    for p in steady:
        load = sum(op.wall_s for op in p.ops if op.name in ("run_all", "incremental"))
        if load:
            rates.append(raw_rows / load)
    return _median(rates)


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    start = process_start()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    configure_env(args.workload)
    tracer = Tracer() if args.trace else None
    spark, import_s, start_s, registry = start_session(args.workload, tracer)
    setup_s = time.time() - start
    session = {"session.import_s": import_s, "session.spark_start_s": start_s}
    remove_stale_run_dirs(args.workload)

    failures: dict[str, str] = {}
    defects: dict[str, str | None] = {}
    probe = streams = None
    try:
        inputs = prepare_inputs(args.workload, args.seed)
        if tracer is not None:
            probe = SparkProbe(spark, tracer)
            streams = StreamRecorder(tracer)
            spark.streams.addListener(streams.listener)
            if args.workload == "cdr_etl":
                workloads.install_pipeline_spans(tracer)
        ctx = workloads.Context(spark, args.workload, args.seed, inputs, tracer, probe, streams)
        passes = []
        proc = spark.sparkContext._gateway.proc
        tracer = tracer or Tracer()  # stays inactive in an untraced run
        tracer.active = args.trace == 1
        steal0 = cpu_steal_s()
        with RssSampler(proc.pid) as rss, tracer.span("run", workload=args.workload, seed=args.seed):
            t0 = time.time()
            while True:
                index = len(passes)
                steady_index = index - 1 - ctx.spec["warmup_passes"]
                if args.trace:
                    # first pass traced, warm-up untraced, steady passes
                    # traced in the order T U U T T U ..., which cancels a
                    # linear trend out of the tracing overhead
                    tracer.active = index == 0 or (steady_index >= 0 and steady_index % 4 in (0, 3))
                    probe.settle()
                    streams.take()
                with tracer.span("pass", index=index):
                    if args.workload == "cdr_etl":
                        p = workloads.run_cdr_pass(ctx, index)
                    else:
                        p = workloads.run_registry_pass(ctx, index, registry.QUERIES)
                passes.append(p)
                if time.time() - t0 >= args.seconds and steady_index + 1 >= MIN_STEADY:
                    break
            tracer.active = False
        steal_s = cpu_steal_s() - steal0
        failures.update(op_failures(passes))
        import checks

        if args.workload == "cdr_etl":
            scratch = os.path.join(run_dir(args.workload), "check")
            # the defect probe reads the views as the last pass left them,
            # so it runs before check_cdr registers them again
            defects = checks.cdr_standing_defects(spark, inputs["cdr_dir"], scratch)
            failures.update(checks.check_cdr(spark, inputs["cdr_dir"], inputs["manifest"], passes,
                                             scratch, inputs["warehouse"]))
        else:
            ops = ctx.spec["ops"]
            failures.update(checks.check_registry(ROOT, inputs["tables"], ops, ctx.last_df, registry.ORACLES))
            defects = checks.registry_standing_defects(ROOT, spark, inputs["defect_tables"],
                                                       registry.QUERIES, registry.ORACLES)
    finally:
        if streams is not None:
            spark.streams.removeListener(streams.listener)
        stop_session(spark)
        shutil.rmtree(run_dir(args.workload), ignore_errors=True)

    attempted = sum(len(p.ops) for p in passes)
    steady = passes[1 + ctx.spec["warmup_passes"]:]
    e2e, notes = end_to_end(passes, steady, setup_s, rss)
    notes["cpu_steal_s"] = steal_s
    table = dict(e2e)
    table["ops_failed_ratio"] = len(failures) / max(attempted, 1)
    if args.workload == "cdr_etl":
        table["rows_per_s"] = cdr_rows_per_s(steady, inputs["raw_rows"])
    if args.trace:
        layers = layer_metrics(passes, steady, session, tracer)
        table.update(layers)
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        trace_path = os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path)
        notes["trace_file"] = os.path.relpath(trace_path, ROOT)
        notes["absent"] = tracer.absent
        reported = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        reported = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len(passes)} attempted={attempted} failed={len(failures)}")
    for k, v in table.items():
        unit = END_TO_END.get(k) or PER_LAYER.get(k) or ("1/s" if k == "rows_per_s" else "ratio")
        print(f"  {k:40s} {v:14.4f} {unit}")
    for k, v in notes.items():
        print(f"  {k}: {v}")
    for k, v in defects.items():
        if v is None:
            print(f"  standing defect {k}: no longer shows; promote its probe to a check")
        else:
            print(f"  STANDING DEFECT {k}: {v}")
    for k, v in failures.items():
        print(f"  FAILED {k}: {v}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": reported}))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's workloads and the code that runs one pass of each.

A pass runs every op of a workload once, closed loop, one client: each
op starts after the previous one has finished. Registry ops are
`QUERIES[name](spark, tier)` (the build) followed by a noop-sink write
of the whole result (the execution). `cdr_etl` runs the paper's own
pipeline against freshly generated CSVs.

With a tracer attached and active, each op also records spans and
counters through `tracing.SparkProbe`; the bookkeeping runs after the
op's span has closed, so it is not part of any op's wall time.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

# Registry tier shared by the registry workloads: fixed seed, so a run's
# seed only permutes op order there. The tier is about a fifth of the
# shipped sf0.1 testdata, sized so a pass fits the run length.
TABLES_SF = 0.02
TABLES_SEED = 42
# A larger tier from the same seed, on which the standing-defect probe
# runs `gap_fill_hourly` (see checks.registry_standing_defects).
DEFECT_TABLES_SF = 0.1

WORKLOADS: dict[str, dict] = {
    "cdr_etl": {
        "kind": "cdr",
        "warmup_passes": 0,
        "why": "the paper's own ETL: CSV read, cleansing, geometry dims, "
               "partitioned parquet writes, then reads of the fresh files",
    },
    "registry_mix": {
        "kind": "registry",
        "why": "registry builds and execution across the JVM-only, Python-worker, "
               "persisted and streaming-drain layers",
        # passes 2-6 still fell by a third, pass over pass, so the median of
        # five steady passes moved with the warm-up curve; the passes are
        # short enough to pay for two warm-up passes
        "warmup_passes": 2,
        "ops": [
            "top_cells",  # JVM scan/aggregate; a plan-memo hit after the first pass
            "gap_fill_hourly",  # JVM-only gap fill of an hourly series
            "knn_pandas_vectorized",  # Arrow batches through Python workers
            "bm25_retrieval",  # persists during its build
            "streaming_dedupe_batch",  # streaming drain inside the build
        ],
    },
}


@dataclass
class OpResult:
    name: str
    wall_s: float
    error: str | None = None
    layers: dict = field(default_factory=dict)


@dataclass
class PassResult:
    index: int
    traced: bool
    wall_s: float
    ops: list[OpResult]
    layers: dict = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)


class Context:
    """What a pass needs: the session, the inputs, and, in a traced
    run, the tracer, probe and streaming recorder."""

    def __init__(self, spark, workload: str, seed: int, inputs: dict,
                 tracer=None, probe=None, streams=None) -> None:
        self.spark = spark
        self.spec = WORKLOADS[workload]
        self.seed = seed
        self.inputs = inputs
        self.tracer = tracer
        self.probe = probe
        self.streams = streams
        self.prev_df: dict[str, object] = {}
        self.last_df: dict[str, object] = {}

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.active


# --------------------------------------------------------------------------
# registry workloads
# --------------------------------------------------------------------------


def op_order(ops: list[str], seed: int, pass_index: int) -> list[str]:
    order = list(ops)
    random.Random(seed * 1000 + pass_index).shuffle(order)
    return order


def run_registry_pass(ctx: Context, index: int, queries: dict) -> PassResult:
    from milan_telecom_etl__spark import caching

    tier = ctx.inputs["tables"]
    results = []
    t0 = time.perf_counter()
    for name in op_order(ctx.spec["ops"], ctx.seed, index):
        results.append(_registry_op(ctx, name, queries[name], tier))
    layers = {}
    if ctx.tracing:
        layers["caching.persisted_mb"] = ctx.probe.persisted_mb()
    caching.release_tracked()
    ctx.spark.catalog.clearCache()
    wall = time.perf_counter() - t0
    return PassResult(index, ctx.tracing, wall, results, layers)


def _registry_op(ctx: Context, name: str, build, tier: str) -> OpResult:
    if not ctx.tracing:
        t0 = time.perf_counter()
        try:
            df = build(ctx.spark, tier)
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:
            return OpResult(name, time.perf_counter() - t0, f"{type(e).__name__}: {e}")
        ctx.last_df[name] = df
        return OpResult(name, time.perf_counter() - t0)

    tr, probe = ctx.tracer, ctx.probe
    j0, x0 = probe.jobs_total(), probe.sql_count()
    calls0 = probe.py4j_calls
    error, df, cat = None, None, {}
    t0 = time.perf_counter()
    with tr.span("op", op=name) as op_span:
        try:
            with tr.span("registry.build") as build_span:
                probe.counting = True
                try:
                    df = build(ctx.spark, tier)
                finally:
                    probe.counting = False
            jb = probe.jobs_total()
            with tr.span("catalyst"):
                cat = probe.catalyst(df)
            with tr.span("exec") as exec_span:
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:
            error = f"{type(e).__name__}: {e}"
    wall = time.perf_counter() - t0
    if error is None:
        ctx.last_df[name] = df
    layers = _op_layers(ctx, op_span, j0, x0)
    layers["registry.build_py4j_calls"] = probe.py4j_calls - calls0
    if error is None:
        layers["registry.build_s"] = build_span.duration
        layers["registry.build_jobs"] = jb - j0
        layers["registry.memo_hits"] = int(ctx.prev_df.get(name) is df)
        layers["registry.builds"] = 1
        layers["exec.s"] = exec_span.duration
        for k, v in cat.items():
            layers[f"catalyst.{k}"] = v
        ctx.prev_df[name] = df
    return OpResult(name, wall, error, layers)


def _op_layers(ctx: Context, op_span, j0: int, x0: int) -> dict:
    """Counters of the op that just ran, read after its span closed."""
    tr, probe = ctx.tracer, ctx.probe
    j1 = probe.jobs_total()
    probe.settle()
    exec_tot, job_times = probe.jobs(j0, j1)
    for job_id, s, e in job_times:
        tr.attach("spark.job", s, e, op_span, job_id=job_id)
    batches = ctx.streams.take() if ctx.streams is not None else []
    for b in batches:
        tr.attach("stream.batch", b["start"], b["start"] + b["duration_s"], op_span,
                  query=b["query"], batch_id=b["batch_id"])
    layers = {f"exec.{k}": v for k, v in exec_tot.items()}
    layers["exec.jobs"] = j1 - j0
    layers["op.wall_s"] = op_span.duration
    for k, v in probe.pyudf(x0).items():
        layers[f"pyudf.{k}"] = v
    layers["streaming.batches"] = len(batches)
    layers["streaming.batch_s"] = [b["duration_s"] for b in batches]
    for k in ("add_batch_s", "commit_s", "rows", "state_rows"):
        layers[f"streaming.{k}"] = sum(b[k] for b in batches)
    for s in tr.spans[op_span.id:]:
        if s.name.startswith("sources.") and tr._within(s, op_span):
            layers["sources.calls"] = layers.get("sources.calls", 0) + 1
            layers["sources.s"] = layers.get("sources.s", 0.0) + s.duration
    layers["trace.unattributed_s"] = tr.self_time(op_span)
    return layers


# --------------------------------------------------------------------------
# cdr_etl
# --------------------------------------------------------------------------


def run_cdr_pass(ctx: Context, index: int) -> PassResult:
    from milan_telecom_etl__spark import pipeline

    d = ctx.inputs["cdr_dir"]
    wh_dir = ctx.inputs["warehouse"]
    spark = ctx.spark
    wh = pipeline.Warehouse(spark, wh_dir)
    outputs: dict = {}

    def run_all(_df):
        outputs["reports"] = pipeline.run_all(
            spark, wh_dir, os.path.join(d, "days"),
            grid_file=os.path.join(d, "grid.geojson"),
            provinces_file=os.path.join(d, "provinces.geojson"),
            drop_existing=True,
        )

    def collect_into(key):
        def run(df):
            outputs[key] = [tuple(r) for r in df.collect()]
        return run

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def incremental(_df):
        outputs["incremental"] = pipeline.load_traffic_incremental(wh, os.path.join(d, "inc"))

    # (name, build or None, run): a build's DataFrame is what `run` executes
    steps = [
        ("run_all", None, run_all),
        ("test_query", lambda: pipeline.run_test_query(wh), collect_into("top")),
        ("view_scan", lambda: spark.table("v_hourly_traffic"), noop),
        ("incremental", None, incremental),
        ("test_query_inc", lambda: pipeline.run_test_query(wh), collect_into("top_inc")),
    ]
    results = []
    j_pass = ctx.probe.jobs_total() if ctx.tracing else 0
    t0 = time.perf_counter()
    for name, build, run in steps:
        results.append(_cdr_op(ctx, name, build, run))
        if results[-1].error:
            break  # later steps read what this one writes
    wall = time.perf_counter() - t0
    layers = {}
    if ctx.tracing:
        layers["pipeline.jobs"] = ctx.probe.jobs_total() - j_pass
        files, nbytes = _files_written(wh_dir)
        layers["pipeline.files_written"] = files
        layers["pipeline.write_amplification"] = nbytes / ctx.inputs["raw_bytes"]
    return PassResult(index, ctx.tracing, wall, results, layers, outputs)


_PIPELINE_SPANS = {
    "pipeline.load_geometries": "pipeline.load_geometries_s",
    "pipeline.load_traffic": "pipeline.load_traffic_s",
    "pipeline.load_mobility": "pipeline.load_mobility_s",
    "pipeline.register_views": "pipeline.register_views_s",
}


def _cdr_op(ctx: Context, name: str, build, run) -> OpResult:
    if not ctx.tracing:
        t0 = time.perf_counter()
        try:
            run(build() if build else None)
        except Exception as e:
            return OpResult(name, time.perf_counter() - t0, f"{type(e).__name__}: {e}")
        return OpResult(name, time.perf_counter() - t0)

    tr, probe = ctx.tracer, ctx.probe
    j0, x0 = probe.jobs_total(), probe.sql_count()
    error, cat = None, {}
    t0 = time.perf_counter()
    with tr.span("op", op=name) as op_span:
        try:
            df = None
            if build:
                with tr.span("plan.build"):
                    df = build()
                with tr.span("catalyst"):
                    cat = probe.catalyst(df)
            with tr.span("exec" if build else f"pipeline.{name}") as exec_span:
                run(df)
        except Exception as e:
            error = f"{type(e).__name__}: {e}"
    wall = time.perf_counter() - t0
    layers = _op_layers(ctx, op_span, j0, x0)
    for k, v in cat.items():
        layers[f"catalyst.{k}"] = v
    for s in tr.spans[op_span.id:]:
        key = _PIPELINE_SPANS.get(s.name)
        if key and tr._within(s, op_span):
            layers[key] = layers.get(key, 0.0) + s.duration
    if error is None and build:
        layers["exec.s"] = exec_span.duration
    if name == "incremental":
        layers["pipeline.load_incremental_s"] = op_span.duration
    elif name.startswith("test_query"):
        layers["pipeline.query_s"] = op_span.duration
    return OpResult(name, wall, error, layers)


def _files_written(root: str) -> tuple[int, int]:
    files = nbytes = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


def install_pipeline_spans(tracer) -> None:
    """Wrap the pipeline stages `run_all` calls by module-global name,
    so each gets a span under the op that called it."""
    from milan_telecom_etl__spark import pipeline

    for fn_name in ("load_geometries", "load_traffic", "load_mobility"):
        setattr(pipeline, fn_name, _spanned(tracer, f"pipeline.{fn_name}", getattr(pipeline, fn_name)))
    pipeline.Warehouse.register_views = _spanned(
        tracer, "pipeline.register_views", pipeline.Warehouse.register_views
    )


def install_source_spans(tracer) -> None:
    """Wrap the source readers. Registry modules bind `load_table` by
    name at import, so this must run before they are imported."""
    from milan_telecom_etl__spark.sources import csv, parquet

    parquet.load_table = _spanned(tracer, "sources.parquet.load_table", parquet.load_table)
    csv.read_csv_glob = _spanned(tracer, "sources.csv.read_csv_glob", csv.read_csv_glob)


def _spanned(tracer, span_name: str, fn):
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    return wrapper


# --------------------------------------------------------------------------
# summaries
# --------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile that has at least ten samples
    beyond it: (value, percentile, sample count). With ten or fewer
    samples no percentile qualifies and the median is returned with
    percentile 50."""
    xs = sorted(values)
    n = len(xs)
    k = n - 10
    if k < 1:
        return statistics.median(xs), 50.0, n
    return xs[k - 1], 100.0 * k / n, n

"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The fast tests need no Spark session. The two end-to-end tests run
`perfbench/run.py` on `registry_mix`, untraced and traced (about a
minute each on a 4-core machine).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen_cdr  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# Share of an op's wall time its layer spans may leave unattributed in
# the traced run, and the slack between the JVM's job times and the
# harness's op spans (README "Reconciliation").
RECONCILE_TOL = 0.05
CLOCK_SLACK_S = 0.05


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------


def test_cdr_generator_is_deterministic_per_seed(tmp_path):
    a = gen_cdr.generate(str(tmp_path / "a"), 5, traffic_rows=3000, mobility_rows=3000)
    b = gen_cdr.generate(str(tmp_path / "b"), 5, traffic_rows=3000, mobility_rows=3000)
    c = gen_cdr.generate(str(tmp_path / "c"), 6, traffic_rows=3000, mobility_rows=3000)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_cdr_manifest_counts_match_the_files(tmp_path):
    import duckdb

    man = gen_cdr.generate(str(tmp_path), 9, traffic_rows=20_000, mobility_rows=20_000)
    con = duckdb.connect()
    for rel, f in man["files"].items():
        path = tmp_path / rel
        rows, bad_dates = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE try_strptime(datetime, "
            f"'%Y-%m-%d %H:%M:%S') IS NULL) FROM read_csv('{path}', all_varchar=true)"
        ).fetchone()
        assert rows == f["rows"]
        assert bad_dates == f["invalid_dates"] > 0
        assert f["rejected_cells"] > 0
        if "sms-call-internet" in rel:
            assert all(0.43 <= v / rows <= 0.76 for v in f["empty_metric_cells"].values())
        else:
            assert f["unknown_provinces"] > 0


def test_table_generator_is_deterministic_per_seed():
    a = gen_tables.build_tables(0.001, 42)
    b = gen_tables.build_tables(0.001, 42)
    c = gen_tables.build_tables(0.001, 43)
    assert set(a) == set(gen_tables.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


# --------------------------------------------------------------------------
# metric names, statistics, spans
# --------------------------------------------------------------------------


def test_metric_names_match_benchmark_json():
    spec = _bench_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_tail_needs_ten_samples_beyond():
    assert workloads.tail(list(range(1, 101))) == (90, 90.0, 100)
    value, pct, n = workloads.tail([1.0, 2.0, 3.0])
    assert (value, pct, n) == (2.0, 50.0, 3)


def test_parse_metric_formats():
    assert tracing.parse_metric("1,234") == 1234
    assert tracing.parse_metric("12 ms") == 12
    text = "total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 1.0: task 2))"
    assert tracing.parse_metric(text) == 2 * 2**20


def test_self_time_counts_overlapping_children_once():
    t = tracing.Tracer()
    op = t.add("op", 0.0, 10.0, tracing.Span(-1, None, "root", 0, 0))
    t.add("spark.job", 1.0, 4.0, op)
    t.add("spark.job", 3.0, 6.0, op)
    assert t.self_time(op) == pytest.approx(5.0)


# --------------------------------------------------------------------------
# failure accounting and output checks
# --------------------------------------------------------------------------


class _StubFrame:
    """Just enough of a DataFrame for the registry pass and parity.compare."""

    def __init__(self, columns, dtypes, rows):
        self.columns, self.dtypes, self._rows = columns, dtypes, rows
        self.write = self

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        pass

    def collect(self):
        return self._rows


def _stub_ctx(ops):
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    ctx = workloads.Context(spark, "registry_mix", 1, {"tables": "unused"})
    ctx.spec = {"ops": ops}
    return ctx


def test_forced_op_exception_counts_as_failed():
    def ok(_spark, _tier):
        return _StubFrame(["x"], [("x", "bigint")], [(1,)])

    def boom(_spark, _tier):
        raise RuntimeError("forced")

    ctx = _stub_ctx(["ok", "boom"])
    p = workloads.run_registry_pass(ctx, 0, {"ok": ok, "boom": boom})
    failures = run.op_failures([p])
    assert list(failures) == ["pass0.boom"]
    assert len(failures) / len(p.ops) == 0.5
    assert "ok" in ctx.last_df and "boom" not in ctx.last_df


@pytest.fixture(scope="module")
def tiny_tier(tmp_path_factory):
    return gen_tables.ensure_tables(str(tmp_path_factory.mktemp("tier")), 0.001, 42)


def test_wrong_result_trips_the_oracle_check(tiny_tier):
    import duckdb

    sys.path.insert(0, ROOT)
    from milan_telecom_etl__spark import queries_registry as reg

    con = duckdb.connect()
    for t in gen_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tiny_tier}/{t}.parquet'")
    rel = con.execute(reg.ORACLES["top_cells"])
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    assert rows
    dtypes = [("cell_id", "bigint"), ("avg_load", "double")]
    right = {"top_cells": _StubFrame(cols, dtypes, rows)}
    wrong_rows = [rows[0][:-1] + (rows[0][-1] + 1.0,)] + rows[1:]
    wrong = {"top_cells": _StubFrame(cols, dtypes, wrong_rows)}
    assert checks.check_registry(ROOT, tiny_tier, ["top_cells"], right, reg.ORACLES) == {}
    failed = checks.check_registry(ROOT, tiny_tier, ["top_cells"], wrong, reg.ORACLES)
    assert "value mismatch" in failed["top_cells"]
    missing = checks.check_registry(ROOT, tiny_tier, ["top_cells"], {}, reg.ORACLES)
    assert "no result" in missing["top_cells"]


def test_wrong_load_report_trips_the_cdr_check(tmp_path):
    man = gen_cdr.generate(str(tmp_path), 3, traffic_rows=2000, mobility_rows=2000)
    traffic = [f for k, f in man["files"].items() if k.startswith("days/sms")]
    mobility = [f for k, f in man["files"].items() if k.startswith("days/mi-to")]
    report = SimpleNamespace(
        loaded_rows=sum(f["loaded_rows"] for f in traffic),
        invalid_dates=sum(f["invalid_dates"] for f in traffic),
        rejected_cells=sum(f["rejected_cells"] for f in traffic) + 1,  # injected error
        negatives={m: sum(f["negatives"][m] for f in traffic) for m in checks.TRAFFIC_METRICS},
        skipped=False,
    )
    mob = SimpleNamespace(
        loaded_rows=sum(f["loaded_rows"] for f in mobility),
        invalid_dates=sum(f["invalid_dates"] for f in mobility), skipped=False,
    )
    inc = SimpleNamespace(loaded_rows=man["files"]["inc/sms-call-internet-mi-2013-11-03.csv"]["rows"],
                          skipped=False)
    p = SimpleNamespace(index=0, outputs={"reports": {"traffic": report, "mobility": mob},
                                          "incremental": inc})
    failed = checks.check_cdr(None, str(tmp_path), man, [p], str(tmp_path / "check"),
                              str(tmp_path / "warehouse"))
    assert "pass0.traffic_report" in failed
    assert "pass0.mobility_report" not in failed
    assert "pass0.incremental_report" not in failed
    assert "top" in failed  # no query result recorded: never passes vacuously


# --------------------------------------------------------------------------
# end to end
# --------------------------------------------------------------------------


def _run(workload: str, trace: int) -> tuple[int, dict, str]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    return out.returncode, json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


def test_untraced_run_prints_every_end_to_end_metric():
    code, result, _ = _run("registry_mix", 0)
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_reports_layers_and_reconciles():
    code, result, _ = _run("registry_mix", 1)
    assert code == 0 and result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["registry.build_py4j_calls"] > 0 and m["exec.jobs"] > 0
    assert m["streaming.batches"] > 0 and m["pyudf.bytes_sent_mb"] > 0
    tr = tracing.Tracer.load(os.path.join(ROOT, ".perfbench", "traces", "registry_mix-seed3.json"))
    assert "pyudf.rows_sent" in tr.absent and "caching.tracked_frames" in tr.absent
    ops = [s for s in tr.spans if s.name == "op"]
    assert ops
    for op in ops:
        layers = tr.layer_times(op)
        assert layers["unattributed"] <= RECONCILE_TOL * op.duration, (op.attrs, layers)
        # cross-check of the two clocks: the jobs the status store lists
        # for the op (JVM clock) ran inside the op's span (harness clock)
        jobs = [s for s in tr.subtree(op) if s.name == "spark.job"]
        for job in jobs:
            assert op.start - CLOCK_SLACK_S <= job.start <= job.end <= op.end + CLOCK_SLACK_S, (
                op.attrs, job.attrs)
    assert any(s.name == "spark.job" for s in tr.spans)

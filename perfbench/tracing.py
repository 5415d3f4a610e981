"""Spans and per-layer counters for the traced run.

Spans are kept in memory and written out once, at the end of a run.
Each span has a name, a start and end (epoch seconds), the span that
caused it and free-form attributes. Spark jobs and streaming batches
are added as children from Spark's own records (the status store and
the streaming query listener), so their times come from the JVM clock.

Every counter is read through Spark's public or `private[spark]` JVM
objects over py4j, never over the UI's REST port, and works with
`spark.ui.enabled=false`:

- jobs, stages and tasks from `SparkContext.statusStore()`;
- SQL plan graphs and Python-node metrics from the SQL status store;
- Catalyst phase times from `QueryExecution.tracker().phases()`;
- py4j round trips by counting `GatewayClient.send_command` calls.

A counter that cannot be read is recorded in `Tracer.absent` with the
reason instead of being dropped.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans are recorded only while `active`
    is true, so untraced passes of a traced run pay a flag test."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.absent: dict[str, str] = {}
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: Span, **attrs) -> Span:
        s = Span(len(self.spans), parent.id, name, start, end, attrs)
        self.spans.append(s)
        return s

    def attach(self, name: str, start: float, end: float, root: Span, **attrs) -> Span:
        """Add a record from Spark's clock under the deepest span of
        `root`'s subtree that was open when the record started."""
        parent = root
        for s in self.spans[root.id + 1:]:
            if s.start <= start <= s.end and self._within(s, root) and not s.attrs.get("spark"):
                parent = s
        return self.add(name, start, end, parent, spark=True, **attrs)

    def _within(self, span: Span, root: Span) -> bool:
        while span.parent is not None:
            if span.parent == root.id:
                return True
            span = self.spans[span.parent]
        return False

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of the span's interval its children
        cover; overlapping children (parallel Spark jobs) count once."""
        return span.duration - _covered(span, self.children(span))

    def subtree(self, root: Span) -> list[Span]:
        return [s for s in self.spans[root.id + 1:] if self._within(s, root)]

    def layer_times(self, op: Span) -> dict[str, float]:
        """An op's wall time split by layer: the self time of each
        harness span by name, Spark's own records (jobs, batches) as one
        `spark` layer merged per parent, and `unattributed` for the op's
        own self time. The parts sum to the op's wall time when spans
        nest cleanly; overlap between layers shows as a surplus."""
        out: dict[str, float] = {"unattributed": self.self_time(op)}
        for s in [op] + self.subtree(op):
            if s.attrs.get("spark"):
                continue
            if s is not op:
                out[s.name] = out.get(s.name, 0.0) + self.self_time(s)
            records = [c for c in self.children(s) if c.attrs.get("spark")]
            if records:
                out["spark"] = out.get("spark", 0.0) + _covered(s, records)
        return out

    def mark_absent(self, metric: str, reason: str) -> None:
        self.absent.setdefault(metric, reason)

    @classmethod
    def load(cls, path: str) -> "Tracer":
        with open(path) as f:
            data = json.load(f)
        t = cls()
        t.spans = [Span(r["id"], r["parent"], r["name"], r["start"], r["end"], r["attrs"])
                   for r in data["spans"]]
        t.absent = data["absent"]
        return t

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": s.id, "parent": s.parent, "name": s.name,
                "start": s.start, "end": s.end,
                "self_s": self.self_time(s), "attrs": s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "absent": self.absent}, f, default=str)


def _covered(span: Span, children: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to span."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def _seq(jseq) -> list:
    """Scala Seq -> Python list."""
    return [jseq.apply(i) for i in range(jseq.length())]


def _epoch(jdate_opt) -> float | None:
    return jdate_opt.get().getTime() / 1000.0 if jdate_opt.isDefined() else None


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: `1,234`, `12 ms`, or the total
    line of a size metric (`total (min, med, max ...)\\n672.0 B (...)`)."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparseable metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2), 1)


PYTHON_NODE = re.compile(r"Python|Pandas|Arrow|BatchEval")
_PY_METRICS = {
    "data sent to Python workers": "bytes_sent_mb",
    "data returned from Python workers": "bytes_received_mb",
    "number of output rows": "rows_received",
}
_PY_SCALE = {"bytes_sent_mb": 2**20, "bytes_received_mb": 2**20, "rows_received": 1}
_PHASES = ("analysis", "optimization", "planning")


class SparkProbe:
    """Reads the per-op counters of one session."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.tracer = tracer
        sc = spark.sparkContext
        self._gw = sc._gateway
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._jsc = jsc
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._quant = self._gw.new_array(self._gw.jvm.double, 2)
        self._quant[0], self._quant[1] = 0.5, 1.0
        self._no_quant = self._gw.new_array(self._gw.jvm.double, 0)
        self.py4j_calls = 0
        self.counting = False
        client = self._gw._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if self.counting:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    # -- cursors taken before and after each phase ------------------
    def jobs_total(self) -> int:
        return self._dag.numTotalJobs()

    def sql_count(self) -> int:
        return self._sql.executionsCount()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the jobs that just ran."""
        self._bus.waitUntilEmpty()

    # -- readers ------------------------------------------------------
    def jobs(self, first: int, end: int) -> tuple[dict, list[tuple]]:
        """Stage and task totals over jobs [first, end), and each job's
        (id, submitted, completed) epoch times."""
        out = {
            "stages": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "input_mb": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "gc_s": 0.0, "peak_exec_mem_mb": 0.0, "task_skew": 1.0,
        }
        times: list[tuple] = []
        seen: set[int] = set()
        for job_id in range(first, end):
            try:
                job = self._store.job(job_id)
            except Exception as e:  # py4j surfaces NoSuchElementException
                self.tracer.mark_absent("exec.jobs", f"job {job_id} not in the status store: {e}")
                continue
            t0, t1 = _epoch(job.submissionTime()), _epoch(job.completionTime())
            if t0 is not None and t1 is not None:
                times.append((job_id, t0, t1))
            for stage_id in _seq(job.stageIds()):
                if stage_id not in seen:
                    seen.add(stage_id)
                    self._stage(stage_id, out)
        return out, times

    def _stage(self, stage_id: int, out: dict) -> None:
        for s in _seq(self._store.stageData(stage_id, False, None, False, self._no_quant)):
            if s.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["input_mb"] += s.inputBytes() / 2**20
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"], s.peakExecutionMemory() / 2**20)
            if s.numCompleteTasks() >= 2:
                summary = self._store.taskSummary(stage_id, s.attemptId(), self._quant)
                if summary.isDefined():
                    med, mx = _seq(summary.get().executorRunTime())
                    if med > 0:
                        out["task_skew"] = max(out["task_skew"], mx / med)

    def catalyst(self, df) -> dict:
        """Plan the DataFrame's own QueryExecution and read its phase
        times and plan shape. Analysis ran eagerly during the build."""
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = qe.tracker().phases()
        out = {"plan_nodes": sum(1 for ln in plan.splitlines() if ln.strip()),
               "exchanges": len(re.findall(r"\bExchange\b|BroadcastExchange", plan))}
        for ph in _PHASES:
            p = phases.get(ph)
            out[f"{ph}_s"] = (p.get().durationMs() / 1e3) if p.isDefined() else 0.0
        return out

    def pyudf(self, first_exec: int) -> dict:
        """Python-worker traffic from the SQL metrics of Python exec
        nodes in the SQL executions since `first_exec`."""
        out = {"rows_received": 0.0, "bytes_sent_mb": 0.0, "bytes_received_mb": 0.0}
        n = self._sql.executionsCount() - first_exec
        if n <= 0:
            return out
        for ex in _seq(self._sql.executionsList(first_exec, n)):
            eid = ex.executionId()
            graph = self._sql.planGraph(eid)
            nodes = [nd for nd in _seq(graph.allNodes()) if PYTHON_NODE.search(nd.name())]
            if not nodes:
                continue
            values = {}
            it = self._sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            for nd in nodes:
                for m in _seq(nd.metrics()):
                    key = _PY_METRICS.get(m.name())
                    if key and m.accumulatorId() in values:
                        out[key] += parse_metric(values[m.accumulatorId()]) / _PY_SCALE[key]
        return out

    def persisted_mb(self) -> float:
        infos = self._jsc.getRDDStorageInfo()
        return sum((i.memSize() + i.diskSize()) for i in infos) / 2**20


class StreamRecorder:
    """Collects streaming progress events while the tracer is active.
    Registered through `spark.streams.addListener` by the benchmark."""

    def __init__(self, tracer: Tracer) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if rec.tracer.active:
                    rec.batches.append(rec._batch(event.progress))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.tracer = tracer
        self.batches: list[dict] = []
        self.listener = _Listener()

    @staticmethod
    def _batch(p) -> dict:
        d = p.durationMs
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        return {
            "query": str(p.id), "batch_id": p.batchId, "start": start,
            "duration_s": d.get("triggerExecution", 0) / 1e3,
            "add_batch_s": d.get("addBatch", 0) / 1e3,
            "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            "rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }

    def take(self) -> list[dict]:
        out, self.batches = self.batches, []
        return out

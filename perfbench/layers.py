"""Per-layer tracing from outside the engine.

A traced query keeps an in-memory span tree: ``query`` is the root, with
children ``catalog.load``, ``queries.build``, ``spark.plan``,
``spark.exec`` and ``streaming.batch``. The spans come from wrappers
around the engine's public functions (``catalog.load``/``load_events``,
``QuerySpec.fn``, the sink), from the planning tracker of the built
DataFrame, and from a ``StreamingQueryListener``. Spark's own layers are
read after each query from its status stores: jobs and stages from the
status tracker and ``AppStatusStore``, Python exec-node metrics from the
SQL status store.
"""

from __future__ import annotations

import os
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "uk_procurement_data_pipeline_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(root: Span) -> dict[str, float]:
    """Sum of self time (own duration minus direct children) per span name."""
    out: dict[str, float] = {}
    stack = [root]
    while stack:
        s = stack.pop()
        own = s.duration - sum(c.duration for c in s.children)
        out[s.name] = out.get(s.name, 0.0) + own
        stack.extend(s.children)
    return out


class SpanRecorder:
    """Builds one span tree per query; ``open`` nests under the open span."""

    def __init__(self) -> None:
        self.root: Span | None = None
        self._stack: list[Span] = []

    def begin_query(self) -> None:
        self.root = Span("query", time.perf_counter())
        self._stack = [self.root]

    def end_query(self) -> Span:
        assert self.root is not None
        self.root.end = time.perf_counter()
        root, self.root, self._stack = self.root, None, []
        return root

    @contextmanager
    def open(self, name: str):
        if not self._stack:
            yield None
            return
        span = Span(name, time.perf_counter())
        self._stack[-1].children.append(span)
        self._stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()


def attach(parent: Span, name: str, duration_s: float) -> None:
    """Add a child span measured elsewhere (a listener's durations)."""
    parent.children.append(Span(name, parent.start, parent.start + duration_s))


def rebind_loads(recorder: SpanRecorder, counter: dict[str, float]):
    """Wrap ``catalog.load``/``load_events`` in every package module.

    Query modules bind ``load`` by name at import, so patching the catalog
    module alone misses every call. Returns ``undo()`` and the originals.
    Only the outermost call is a span (``load`` itself calls
    ``load_events`` for the events table).
    """
    from uk_procurement_data_pipeline_spark import catalog

    originals = {"load": catalog.load, "load_events": catalog.load_events}
    depth = [0]

    def wrap(fn):
        def traced(*args, **kwargs):
            if depth[0]:
                return fn(*args, **kwargs)
            depth[0] += 1
            t0 = time.perf_counter()
            try:
                with recorder.open("catalog.load"):
                    return fn(*args, **kwargs)
            finally:
                depth[0] -= 1
                counter["calls"] += 1
                counter["s"] += time.perf_counter() - t0

        traced.__wrapped__ = fn
        return traced

    wrapped = {k: wrap(v) for k, v in originals.items()}
    patched: list[tuple[object, str, object]] = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
            continue
        for attr, orig in originals.items():
            for key, val in list(vars(mod).items()):
                if val is orig:
                    patched.append((mod, key, orig))
                    setattr(mod, key, wrapped[attr])

    def undo() -> None:
        for mod, key, orig in patched:
            setattr(mod, key, orig)

    return undo, originals


def modules_holding(originals: dict[str, object], prefix: str = PKG + ".queries") -> list[str]:
    """Names of loaded modules under ``prefix`` that still hold an original."""
    held = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == prefix or mod_name.startswith(prefix + ".")):
            continue
        if any(v is o for v in vars(mod).values() for o in originals.values()):
            held.append(mod_name)
    return held


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of ``df`` after forcing its executed plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
}
_VALUE = re.compile(r"(-?[0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)\b")


def parse_metric_total(text: str) -> float:
    """Total from a formatted SQL metric: bytes for sizes, ms for timings."""
    lines = text.strip().splitlines()
    m = _VALUE.search(lines[-1]) if lines else None
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


PYTHON_SQL_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}

STAGE_FIELDS = {
    "exec_run_s": ("executorRunTime", 1e-3),
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spill_bytes": ("diskBytesSpilled", 1.0),
}

STREAM_PHASES = ("triggerExecution", "addBatch", "queryPlanning", "latestOffset",
                 "walCommit", "commitOffsets")


class SparkReader:
    """Reads what Spark recorded about the jobs and SQL executions of one query."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.next_job = 0
        self.next_exec = 0
        self.sync()

    def flush(self) -> None:
        self.bus.waitUntilEmpty()

    def sync(self) -> None:
        """Skip everything recorded so far."""
        self.flush()
        self.next_job = self._scan_jobs(self.next_job, visit=None)
        count = int(self.sql_store.executionsCount())
        if count:
            last = self.sql_store.executionsList(count - 1, 1).head()
            self.next_exec = int(last.executionId()) + 1

    def _scan_jobs(self, start: int, visit) -> int:
        tracker = self.sc.statusTracker()
        jid, misses = start, 0
        end = start
        while misses < 4:
            info = tracker.getJobInfo(jid)
            if info is None:
                misses += 1
            else:
                misses = 0
                end = jid + 1
                if visit:
                    visit(info)
            jid += 1
        return end

    def read(self) -> dict[str, float]:
        self.flush()
        out = {"jobs": 0.0, "stages": 0.0, "tasks": 0.0, "tasks_failed": 0.0}
        out.update({k: 0.0 for k in STAGE_FIELDS})
        seen: set[int] = set()

        def visit(info) -> None:
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stages never ran
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["tasks_failed"] += sd.numFailedTasks()
                for key, (getter, scale) in STAGE_FIELDS.items():
                    out[key] += getattr(sd, getter)() * scale

        self.next_job = self._scan_jobs(self.next_job, visit)
        out.update({f"python.{v}": 0.0 for v in PYTHON_SQL_METRICS.values()})
        eid, misses = self.next_exec, 0
        while misses < 4:
            execution = self.sql_store.execution(eid)
            if execution.isDefined():
                misses = 0
                self._python_metrics(execution.get(), out)
                self.next_exec = eid + 1
            else:
                misses += 1
            eid += 1
        return out

    def _python_metrics(self, execution, out: dict[str, float]) -> None:
        values = None
        seen: set[int] = set()
        it = execution.metrics().iterator()
        while it.hasNext():
            m = it.next()
            key = PYTHON_SQL_METRICS.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            if values is None:
                values = self.sql_store.executionMetrics(execution.executionId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                out[f"python.{key}"] += parse_metric_total(v.get())


def make_progress_listener(sink: list[dict]):
    """A StreamingQueryListener that keeps each batch's phase durations."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            dur = dict(p.durationMs or {})
            row = {k: float(dur.get(k, 0)) for k in STREAM_PHASES}
            row["state_rows"] = float(sum(op.numRowsTotal for op in p.stateOperators))
            row["state_mem_bytes"] = float(sum(op.memoryUsedBytes for op in p.stateOperators))
            sink.append(row)

    return ProgressListener()


def dir_bytes(path) -> tuple[int, int]:
    """(bytes, files) of the data files a sink wrote under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            total += os.path.getsize(os.path.join(root, n))
    return total, files

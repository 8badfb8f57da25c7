"""Per-layer tracing for the benchmark's traced runs.

Everything here observes the engine from outside: spans come from
wrappers installed around public functions of the engine's modules for
the duration of a traced pass, and Spark-level counters come from
Spark's own status stores, read after each operation, outside its
timed region. No engine module is edited.

Spans are kept in memory. A span's self time is its duration minus the
part of its interval covered by its child spans; layer times are the
sum of self times of that layer's spans.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import re
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

# -- spans --------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Tracer:
    """In-memory span recorder with one open-span stack per thread.

    A span opened on a thread with no open span (a streaming
    ``foreachBatch`` callback runs on a py4j callback thread) is parented
    to the operation span open on the main thread."""

    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    op_span: int | None = None
    paused: bool = False
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else self.op_span
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(), parent=parent))
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        st = self._stack()
        while st and st.pop() != idx:
            pass

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield idx
        finally:
            self.close(idx)

    @contextlib.contextmanager
    def pause(self):
        """Wrapped calls record no span and count nothing while the block runs."""
        self.paused = True
        try:
            yield
        finally:
            self.paused = False

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    def peak(self, key: str, v: float) -> None:
        with self._lock:
            self.counters[key] = max(self.counters.get(key, 0), v)

    def self_times(self) -> dict[str, float]:
        """Sum of self time per span name."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in sorted(children.get(i, ())):
                a, b = max(a, s.start), min(b, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out


# -- wrappers around the engine's public functions ------------------------


def _patch(undo: list, owner: Any, attr: str, wrap: Callable) -> None:
    raw = inspect.getattr_static(owner, attr)
    if isinstance(raw, classmethod):
        new = classmethod(wrap(raw.__func__))
    elif isinstance(raw, staticmethod):
        new = staticmethod(wrap(raw.__func__))
    else:
        new = wrap(raw)
    setattr(owner, attr, new)
    undo.append((owner, attr, raw))


def _spanning(tracer: Tracer, name: str, on_result=None):
    def wrap(fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            if tracer.paused:
                return fn(*args, **kwargs)
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, result)
            return result

        return inner

    return wrap


def instrument(tracer: Tracer) -> Callable[[], None]:
    """Install span wrappers on the engine's layer boundaries; returns
    the function that removes them again."""
    from databricks_delta_lake_project_spark.governance import systables
    from databricks_delta_lake_project_spark.plans import pipeline
    from databricks_delta_lake_project_spark.quality import event_log, expectations
    from databricks_delta_lake_project_spark.queries import sqlpack
    from databricks_delta_lake_project_spark.tables import delta_log, log, table

    def on_commit(args, kwargs, _version):
        # both log backends share commit(root, operation, add, remove, ...)
        # — the Delta one as a method, so drop its ``self``
        if not isinstance(args[0], str):
            args = args[1:]
        add = kwargs.get("add", args[2] if len(args) > 2 else [])
        remove = kwargs.get("remove", args[3] if len(args) > 3 else [])
        tracer.count("tables.commits")
        tracer.count("tables.files_added", len(add))
        tracer.count("tables.files_removed", len(remove))
        tracer.count(
            "tables.bytes_written",
            sum(int(a.get("bytes", a.get("size", 0)) or 0) for a in add),
        )

    def on_merge(_args, _kwargs, metrics):
        changed = sum(
            int(metrics.get(k, 0) or 0)
            for k in (
                "numTargetRowsUpdated",
                "numTargetRowsInserted",
                "numTargetRowsDeleted",
            )
        )
        tracer.count("tables.merge_changed_rows", changed)
        tracer.count("tables.merge_output_rows", int(metrics.get("numOutputRows", 0) or 0))

    undo: list = []
    LakeTable, MergeBuilder = table.LakeTable, table.MergeBuilder
    for owner, attr, name, hook in (
        (LakeTable, "create", "tables.create", None),
        (LakeTable, "to_df", "tables.read", None),
        (MergeBuilder, "execute", "tables.merge", on_merge),
        (log, "commit", "tables.commit", on_commit),
        (delta_log.DeltaLogBackend, "commit", "tables.commit", on_commit),
        (pipeline.Pipeline, "run", "plans.run", None),
        (expectations.QualityEngine, "apply", "quality.apply", None),
        (systables, "record_lineage", "governance.record", None),
        (systables, "record_query", "governance.record", None),
        (event_log, "record_flow_progress", "governance.record", None),
        (sqlpack, "run_statement", "sql.statement", None),
    ):
        _patch(undo, owner, attr, _spanning(tracer, name, hook))

    def remove() -> None:
        for owner, attr, raw in reversed(undo):
            setattr(owner, attr, raw)

    return remove


# -- Spark status stores --------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_init_s",
    "time to run Python workers": "python.worker_run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def _metric_value(text: str) -> float:
    """Leading total of a formatted SQL metric (``"10.8 s (...)"``,
    ``"total (min, med, max ...)\\n807.9 KiB (...)"`` or ``"100,000"``)
    in bytes or seconds."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkCounters:
    """Reads jobs, stages, tasks and SQL metrics for a range of job and
    SQL-execution ids.

    Ranges, not job groups: streaming micro-batches run on the stream's
    own thread and escape any group set by the caller, but their job ids
    still fall inside the operation's range."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.gw = spark.sparkContext._gateway
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        self.jsc.listenerBus().waitUntilEmpty()
        return self.jsc.dagScheduler().nextJobId(), self._next_execution()

    def _next_execution(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return 0
        last = self.sql_store.executionsList(n - 1, 1)
        return last.apply(0).executionId() + 1

    def collect(self, since: tuple[int, int]) -> dict[str, float]:
        """Counters for every job and SQL execution started since ``since``."""
        j0, e0 = since
        j1, e1 = self.mark()
        out: dict[str, float] = {"spark.jobs": j1 - j0}
        stages: set[int] = set()
        for j in range(j0, j1):
            try:
                it = self.store.job(j).stageIds().iterator()
            except Exception:  # noqa: BLE001 — evicted or never posted
                out["spark.jobs_unread"] = out.get("spark.jobs_unread", 0) + 1
                continue
            while it.hasNext():
                stages.add(it.next())
        keys = (
            ("spark.tasks", "numCompleteTasks", 1),
            ("spark.input_bytes", "inputBytes", 1),
            ("spark.output_bytes", "outputBytes", 1),
            ("spark.shuffle_read_bytes", "shuffleReadBytes", 1),
            ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
            ("spark.spill_bytes", "diskBytesSpilled", 1),
            ("spark.executor_run_s", "executorRunTime", 1e-3),
            ("spark.executor_cpu_s", "executorCpuTime", 1e-9),
            ("spark.gc_s", "jvmGcTime", 1e-3),
        )
        for k, _, _ in keys:
            out[k] = 0.0
        out["spark.stages"] = 0
        longest = (0.0, None)
        for s in sorted(stages):
            sd = self.store.lastStageAttempt(s)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["spark.stages"] += 1
            for k, getter, scale in keys:
                out[k] += getattr(sd, getter)() * scale
            if sd.executorRunTime() > longest[0]:
                longest = (sd.executorRunTime(), sd)
        out["spark.stage_skew"] = self._skew(longest[1]) if longest[1] else 1.0
        out.update(self._python_metrics(e0, e1))
        return out

    def _skew(self, sd) -> float:
        q = self.gw.new_array(self.gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(sd.stageId(), sd.attemptId(), q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0

    def _python_metrics(self, e0: int, e1: int) -> dict[str, float]:
        out = {v: 0.0 for v in _PY_METRICS.values()}
        for e in range(e0, e1):
            ui = self.sql_store.execution(e)
            if not ui.isDefined():
                continue
            values = self.sql_store.executionMetrics(e)
            seen: set[int] = set()
            it = ui.get().metrics().iterator()
            while it.hasNext():
                m = it.next()
                key = _PY_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += _metric_value(v.get())
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of ``df``'s plan. Forces optimization
    and physical planning, so only traced runs call it."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(p)
        out[f"catalyst.{p}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# -- streaming --------------------------------------------------------------


def streaming_listener(tracer: Tracer):
    """A StreamingQueryListener that folds every progress event into
    the tracer's ``streaming.*`` counters."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802 — Spark's API
            pass

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            if p.numInputRows == 0 and not p.stateOperators:
                return
            d = p.durationMs or {}
            tracer.count("streaming.batches")
            for k, name in (
                ("triggerExecution", "streaming.trigger_ms"),
                ("addBatch", "streaming.add_batch_ms"),
                ("queryPlanning", "streaming.query_planning_ms"),
                ("walCommit", "streaming.wal_commit_ms"),
                ("commitOffsets", "streaming.commit_offsets_ms"),
            ):
                tracer.count(name, float(d.get(k, 0) or 0))
            for op in p.stateOperators or ():
                tracer.peak("streaming.state_rows", op.numRowsTotal)
                tracer.count("streaming.state_commit_ms", op.commitTimeMs)
                tracer.peak("streaming.state_memory_bytes", op.memoryUsedBytes)

    return _Listener()

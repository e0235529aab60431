"""Benchmark-side tracing: spans, counters and the engine harvest.

Nothing here is placed inside the engine. Spans wrap the benchmark's own
calls into the engine's entry points; counters come from what Spark
already records:

- the SQL status store (per-execution plan-node metrics, polled until
  each execution has its completion time, because completion races the
  listener bus);
- ``QueryPlanningTracker`` phase times, read from a
  ``QueryExecutionListener`` the benchmark registers;
- a py4j command counter wrapped around the gateway client;
- ``StreamingQuery.recentProgress``;
- ``/proc`` memory of the driver JVM (resident set) and its Python
  workers (proportional set: the workers are forked from one daemon, so
  the pages they share are counted once).
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int = 0


@dataclass
class Tracer:
    """In-memory spans; a disabled tracer records nothing. Counts taken
    at the same boundaries live in the workload's ``Result.layers``."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        sp = Span(name, time.perf_counter(), 0.0, parent, op, len(self.spans))
        self.spans.append(sp)
        self._stack.append(sp.sid)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float, op: str | None, parent: int | None = None) -> int:
        """Record a span measured elsewhere (a micro-batch, a sink call)."""
        if not self.enabled:
            return -1
        sp = Span(name, start, end, parent, op, len(self.spans))
        self.spans.append(sp)
        return sp.sid


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the part of each span's
    interval that its child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    out: dict[str, float] = defaultdict(float)
    for sp in spans:
        covered, cursor = 0.0, sp.start
        for ch in sorted(children[sp.sid], key=lambda c: c.start):
            lo, hi = max(ch.start, cursor), min(ch.end, sp.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[sp.name] += (sp.end - sp.start) - covered
    return dict(out)


# ---------------------------------------------------------------------------
# py4j command counter


class Py4jCounter:
    """Counts gateway commands the main thread sends. Installed by
    shadowing ``send_command`` on the gateway client instance."""

    def __init__(self, gateway):
        self._client = gateway._gateway_client
        self._orig = self._client.send_command
        self._main = threading.get_ident()
        self.calls = 0

        def counting(*args, **kwargs):
            if threading.get_ident() == self._main:
                self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counting

    def uninstall(self) -> None:
        self._client.__dict__.pop("send_command", None)


# ---------------------------------------------------------------------------
# Catalyst phases


class PlanningListener:
    """``QueryExecutionListener`` summing QueryPlanningTracker phases of
    every action that completes (run on Spark's listener thread)."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self):
        self._lock = threading.Lock()
        self._phases = dict.fromkeys(self.PHASES, 0.0)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        phases = qe.tracker().phases()
        got = {}
        for name in self.PHASES:
            opt = phases.get(name)
            if opt.isDefined():
                got[name] = opt.get().durationMs() / 1000.0
        with self._lock:
            for name, v in got.items():
                self._phases[name] += v

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    def take(self) -> dict[str, float]:
        with self._lock:
            out, self._phases = self._phases, dict.fromkeys(self.PHASES, 0.0)
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# ---------------------------------------------------------------------------
# SQL status store

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str, metric_type: str) -> float:
    """Parse a status-store metric string: ``"100,000"``, ``"5.7 s"`` or
    ``"total (min, med, max ...)\\n783.3 KiB (...)"`` (the total)."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type == "size":
        return value * _SIZE.get(unit, 1)
    if metric_type in ("timing", "nsTiming"):
        return value * _TIME.get(unit, 1e-3)
    return value


_PY_METRICS = {
    "time to run Python workers": "transform.py_total_task_s",
    "time to start Python workers": "transform.py_boot_task_s",
    "time to initialize Python workers": "transform.py_init_task_s",
    "data sent to Python workers": "transform.bytes_to_py",
    "data returned from Python workers": "transform.bytes_from_py",
}
_SCAN_METRICS = {
    "scan time": "sources.scan_s",
    "number of files read": "sources.files_read",
    "size of files read": "sources.bytes_read",
}


class SqlHarvest:
    """Reads executions the status store gained since the last call."""

    def __init__(self, spark, poll_timeout_s: float = 10.0):
        self._spark = spark
        jss = spark._jsparkSession
        self._store = jss.sharedState().statusStore()
        self._bus = jss.sparkContext().listenerBus()
        self._seen = int(self._store.executionsCount())
        self._timeout = poll_timeout_s
        self.nodes: dict[str, int] = defaultdict(int)  # plan-node names seen

    def _completed(self, eid: int):
        deadline = time.monotonic() + self._timeout
        while True:
            opt = self._store.execution(eid)
            if opt.isDefined():
                ex = opt.get()
                if ex.completionTime().isDefined():
                    return ex
            if time.monotonic() > deadline:
                return None
            time.sleep(0.02)

    def skip(self) -> None:
        """Forget the executions recorded so far."""
        self._bus.waitUntilEmpty()
        self._seen = int(self._store.executionsCount())

    def harvest(self) -> tuple[dict[str, float], dict[str, float]]:
        """Counters of the new executions, and SQL seconds per
        description (the job group set around each phase)."""
        self._bus.waitUntilEmpty()
        total = int(self._store.executionsCount())
        ids = []
        if total > self._seen:
            new = self._store.executionsList(self._seen, total - self._seen)
            ids = [int(e.executionId()) for e in _iterate(new)]
        self._seen = total
        counters: dict[str, float] = defaultdict(float)
        sql_by_desc: dict[str, float] = defaultdict(float)
        tracker = self._spark.sparkContext.statusTracker()
        for eid in ids:
            ex = self._completed(eid)
            if ex is None:
                counters["exec.incomplete"] += 1
                continue
            dur = (ex.completionTime().get().getTime() - ex.submissionTime()) / 1000.0
            sql_by_desc[str(ex.description())] += dur
            counters["exec.executions"] += 1
            jobs = [int(j) for j in _iterate(ex.jobs().keys())]
            counters["exec.jobs"] += len(jobs)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        counters["exec.tasks"] += st.numCompletedTasks
            self._plan_metrics(eid, counters)
        return counters, sql_by_desc

    def _plan_metrics(self, eid: int, counters: dict[str, float]) -> None:
        values = self._store.executionMetrics(eid)
        for node in _iterate(self._store.planGraph(eid).allNodes()):
            name = str(node.name())
            self.nodes[name] += 1
            is_exchange = name == "Exchange"
            if is_exchange:
                counters["exchange.count"] += 1
            for m in _iterate(node.metrics()):
                opt = values.get(m.accumulatorId())
                if not opt.isDefined():
                    continue
                mname, mtype = str(m.name()), str(m.metricType())
                v = parse_metric(str(opt.get()), mtype)
                if mname == "spill size":
                    counters["exec.spill_bytes"] += v
                elif mname in _PY_METRICS:
                    counters[_PY_METRICS[mname]] += v
                    if mname == "data sent to Python workers":
                        counters["transform.py_nodes"] += 1
                elif name.startswith("Scan") and mname in _SCAN_METRICS:
                    counters[_SCAN_METRICS[mname]] += v
                elif is_exchange and mname == "shuffle bytes written":
                    counters["exchange.shuffle_write_bytes"] += v
                elif is_exchange and mname in ("local bytes read", "remote bytes read"):
                    counters["exchange.shuffle_read_bytes"] += v
                elif mname == "number of output rows":
                    if _is_python_node(name):
                        counters["transform.rows_from_py"] += v
                    elif name.startswith("Scan"):
                        counters["sources.rows"] += v
        return None


def _is_python_node(name: str) -> bool:
    return "Pandas" in name or "Python" in name or "Arrow" in name


def _iterate(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


# ---------------------------------------------------------------------------
# /proc memory


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in _ppid_map().items():
        kids[ppid].append(pid)
    out, todo = [], list(kids[root])
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids[p])
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the memory of the JVM (RSS) and its Python workers (PSS)."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval = interval_s
        self.peak_total_kb = 0
        self.peak_workers_kb = 0
        self.max_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        workers = descendants(self.jvm_pid)
        wkb = sum(_pss_kb(p) for p in workers)
        total = _status_kb(self.jvm_pid, "VmRSS:") + wkb
        self.peak_total_kb = max(self.peak_total_kb, total)
        self.peak_workers_kb = max(self.peak_workers_kb, wkb)
        self.max_workers = max(self.max_workers, len(workers))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def jvm_peak_kb(self) -> int:
        return _status_kb(self.jvm_pid, "VmHWM:")

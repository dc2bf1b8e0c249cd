"""Traced mode: spans around calls into the package's layers, and the
attribution of Spark jobs from a local event log to operations and
spans (``layers.py`` turns both into the per-layer metrics).

Nothing here changes what the program computes. Spans come from
wrappers installed over the package's public functions at every
module binding (so ``from x import f`` call sites are covered too);
when tracing is off the wrappers are not installed at all. Spans are
kept in memory and written out when the run ends.

Layer of a span, from the defining module of the wrapped function:
``session``, ``io``, ``pipeline``, ``operators.<module>``,
``lifecycle`` (``functions.lifecycle``), plus ``session.min_par`` for
``ensure_min_parallelism``. The benchmark adds its own ``op``,
``build`` and ``act`` spans, and ``sweep`` (layer ``lifecycle.sweep``).
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

PACKAGE = "bht_etl_app_spark"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float          # epoch seconds (time.time), comparable to event-log ms
    end: float | None
    parent: int | None
    pass_no: int | None
    op: str | None
    thread: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Each thread has its own span stack;
    a span opened on a thread with an empty stack (a driver thread-pool
    worker) is parented to the current operation's span."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_no: int | None = None
        self.op: str | None = None
        self.op_span: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else self.op_span
        sp = Span(next(self._ids), name, layer, time.time(), None, parent,
                  self.pass_no, self.op, threading.current_thread().name)
        with self._lock:
            self.spans.append(sp)
        st.append(sp.id)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] == sp.id:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A span around the ``with`` body; nothing when disabled."""
        if not self.enabled:
            yield None
            return
        sp = self.open(name, layer)
        try:
            yield sp
        finally:
            self.close(sp)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


# ------------------------------------------------------------ self time

def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its child
    spans cover (children on pool threads may overlap each other, so
    the union is subtracted, not the sum)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        for s in spans if s.end is not None
    }


# ---------------------------------------------------- instrumentation

def layer_of(module: str) -> str | None:
    if module == f"{PACKAGE}.session":
        return "session"
    if module.startswith(f"{PACKAGE}.io"):
        return "io"
    if module == f"{PACKAGE}.pipeline":
        return "pipeline"
    if module.startswith(f"{PACKAGE}.operators."):
        return "operators." + module.rsplit(".", 1)[1]
    if module == f"{PACKAGE}.functions.lifecycle":
        return "lifecycle"
    return None


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    if name == "session.ensure_min_parallelism":
        layer = "session.min_par"

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        sp = tracer.open(name, layer)
        try:
            out = fn(*args, **kwargs)
            if layer == "session.min_par" and args:
                sp.attrs["repartitioned"] = out is not args[0]
            return out
        finally:
            tracer.close(sp)

    return traced


def instrument(tracer: Tracer) -> None:
    """Wrap every public function and public method of the layer
    modules at every binding in the loaded package modules and
    ``__spark_entry__``, after importing all of them (a module first
    imported later, inside a function body, would bind the originals)."""
    import importlib
    import pkgutil

    import __spark_entry__  # noqa: F401

    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        importlib.import_module(info.name)
    mods = [m for n, m in list(sys.modules.items())
            if m is not None and (n == PACKAGE or n.startswith(PACKAGE + ".")
                                  or n == "__spark_entry__")]
    wrapped: dict[int, object] = {}  # one wrapper per function, shared by its bindings
    for mod in mods:
        for attr, val in list(vars(mod).items()):
            if inspect.isfunction(val) and not attr.startswith("_"):
                layer = layer_of(val.__module__ or "")
                if layer is None:
                    continue
                if id(val) not in wrapped:
                    short = val.__module__.rsplit(".", 1)[1]
                    wrapped[id(val)] = _wrap(tracer, val, f"{short}.{val.__name__}", layer)
                setattr(mod, attr, wrapped[id(val)])
            elif inspect.isclass(val) and val.__module__ == mod.__name__:
                layer = layer_of(mod.__name__)
                if layer is not None:
                    _instrument_class(tracer, val, layer)


def _instrument_class(tracer: Tracer, cls, layer: str) -> None:
    prefix = f"{cls.__module__.rsplit('.', 1)[1]}.{cls.__name__}"
    for mname, raw in list(vars(cls).items()):
        if mname.startswith("_"):
            continue
        name = f"{prefix}.{mname}"
        if isinstance(raw, (classmethod, staticmethod)):
            setattr(cls, mname, type(raw)(_wrap(tracer, raw.__func__, name, layer)))
        elif inspect.isfunction(raw):
            setattr(cls, mname, _wrap(tracer, raw, name, layer))


# ---------------------------------------------------------- event log

def _lines(paths):
    for p in paths:
        with open(p) as f:
            yield from f


def parse_event_log(paths: list[str]) -> dict:
    """Jobs and per-stage task totals from a Spark JSON event log (the
    files of one application, in order)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "id": jid,
                "submit": ev["Submission Time"] / 1000.0,
                "group": props.get("spark.jobGroup.id"),
                "stages": set(),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st = stages.setdefault(sid, {"tasks": 0, "run_ms": 0, "sr": 0, "sw": 0, "spill": 0})
            st["tasks"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["sw"] += sw.get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid in jobs:
            jobs[jid]["stages"].add(sid)
    return {"jobs": jobs, "stages": stages}


def find_event_log(log_dir: str) -> list[str]:
    """The event files of the one application logged in ``log_dir``:
    a plain file, or the ``eventlog_v2_*`` directory of rolling
    ``events_<n>_*`` files that Spark 4 writes."""
    apps = os.listdir(log_dir)
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(apps)}")
    path = os.path.join(log_dir, apps[0])
    if os.path.isfile(path):
        return [path]
    events = [f for f in os.listdir(path) if f.startswith("events_")]
    if not events:
        raise RuntimeError(f"no events_* file in {path}")
    events.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in events]


# ---------------------------------------------------------- attribution

def innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-opened span active at time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= (s.end or s.start) and (best is None or s.start >= best.start):
            best = s
    return best


def attribute_jobs(jobs: dict, op_spans: list[Span], spans_by_op: dict[int, list[Span]]):
    """Assign each job to an operation: by its job group when it has
    one; otherwise (jobs started from pool threads) by the operation
    whose time window holds its submission, since one operation runs
    at a time. Returns {op span id: [(job, untagged, innermost span)]}
    and the count of jobs outside every operation."""
    by_group = {s.attrs.get("group"): s for s in op_spans}
    out: dict[int, list] = {s.id: [] for s in op_spans}
    outside = 0
    for job in sorted(jobs.values(), key=lambda j: j["id"]):
        op = by_group.get(job["group"]) if job["group"] else None
        untagged = op is None
        if op is None:
            op = next((s for s in op_spans if s.start <= job["submit"] <= s.end), None)
        if op is None:
            outside += 1
            continue
        inner = innermost(spans_by_op[op.id], job["submit"])
        out[op.id].append((job, untagged, inner))
    return out, outside

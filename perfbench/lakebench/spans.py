"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, op id, phase, workload). Spans are
opened around calls into the package's public functions, from outside:
``Tracer.instrument`` replaces a function or method by a wrapper that
records a span, so the package itself is not modified. When a Spark
context is attached, every span also tags the jobs it triggers as the
Spark job group named after the span, which the event-log reader uses to
attribute executor work to layers.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    phase: str
    workload: str

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def to_json(self) -> dict:
        return {"id": self.sid, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "op": self.op,
                "phase": self.phase, "workload": self.workload}


def layer_of(name: str) -> str:
    """Span name -> its layer, the longest known prefix
    (``sources.txlog.merge`` -> ``sources.txlog``,
    ``plans.bronze.write`` -> ``plans``)."""
    for prefix in ("sources.txlog", "sources.queue_source", "sources.txsql",
                   "streaming", "session", "plans", "queries", "operators",
                   "harness"):
        if name == prefix or name.startswith(prefix + "."):
            return prefix
    return name.split(".", 1)[0]


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of (start, end) intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time in ms: its duration minus the part of its
    interval covered by its direct children (clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return {s.sid: s.ms - union_ms(children.get(s.sid, [])) for s in spans}


class Tracer:
    """Collects spans; a disabled tracer records nothing and adds no
    work beyond a context-manager call."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None
        self.phase = "setup"
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[tuple[int, str]] = []
        self._next = 0
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []

    def attach_spark(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    def _stack(self) -> list[tuple[int, str]]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, name: str | None) -> None:
        if self._sc is None:
            return
        if name is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        if stack:
            parent = stack[-1][0]
        else:   # a callback thread nests under the main thread's span
            parent = self._main_stack[-1][0] if self._main_stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        stack.append((sid, name))
        self._set_group(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self._set_group(stack[-1][1] if stack else None)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent,
                                       self.op, self.phase, self.workload))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        traced.__wrapped_by_tracer__ = True
        return traced

    def instrument(self, owner, attrs: list[str], prefix: str) -> None:
        """Wrap ``owner.<attr>`` (a module function or a class method) so
        each call records span ``<prefix>.<attr>``. Module-level aliases
        of the same function in already-imported modules (``from m import
        f``) are re-pointed too."""
        if not self.enabled:
            return
        for attr in attrs:
            orig = getattr(owner, attr)
            if getattr(orig, "__wrapped_by_tracer__", False):
                continue
            wrapped = self.wrap(f"{prefix}.{attr}", orig)
            setattr(owner, attr, wrapped)
            self._patched.append((owner, attr, orig))
            if isinstance(owner, type):
                continue
            for mod in list(sys.modules.values()):
                if mod is owner or not getattr(mod, "__name__", "").startswith(
                        "aws_payment_data_lake_spark"):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, wrapped)
                        self._patched.append((mod, k, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def per_name(spans: list[Span], selfs: dict[int, float]) -> dict[str, dict]:
    """Span name -> calls, total (inclusive) ms, self ms, p50 ms."""
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s.name, {"calls": 0, "total_ms": 0.0,
                                    "self_ms": 0.0, "_ms": []})
        d["calls"] += 1
        d["total_ms"] += s.ms
        d["self_ms"] += selfs[s.sid]
        d["_ms"].append(s.ms)
    for d in out.values():
        ms = sorted(d.pop("_ms"))
        d["p50_ms"] = ms[(len(ms) - 1) // 2]
    return out


def per_layer_self(spans: list[Span], selfs: dict[int, float]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        k = layer_of(s.name)
        out[k] = out.get(k, 0.0) + selfs[s.sid]
    return out

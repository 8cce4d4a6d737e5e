"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, trace id). Spans live in a list until
the run ends, then ``dump`` writes them as one JSON document. Times are
``time.time()`` seconds so they line up with Spark's event log, whose
timestamps are epoch milliseconds from the same clock.

``pyspark_calls`` adds a span around every call the engine makes into
PySpark's DataFrame, Column and functions APIs, its readers and writers,
and around every other call it makes into the JVM through py4j (building a
DataFrame or a Column runs Catalyst's analysis there). Each span is named
after the engine module that made the call. The engine's own code is left
as it is.
"""

from __future__ import annotations

import contextlib
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: int
    id: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, trace: int):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(name, time.time(), 0.0, parent, trace, sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, start: float, end: float, parent: Span) -> Span:
        """Record a span measured elsewhere (from the event log)."""
        s = Span(name, start, end, parent.id, parent.trace, len(self.spans))
        self.spans.append(s)
        return s

    def current(self) -> Span | None:
        """The innermost open span of the main thread."""
        return self.spans[self._stack[-1]] if self._stack else None

    def children(self, parent: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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
    return total


# What the engine calls in PySpark, as "module:Class" (or "module:" for the
# module's functions) -> method names, or None for every public method.
# These are the DataFrame, Column and functions APIs, the readers and
# writers, the session's constructors and the observed-metrics getter; then
# any other py4j call into the JVM.
_CALLS = {
    "pyspark.sql.classic.dataframe:DataFrame": None,
    "pyspark.sql.classic.column:Column": None,
    "pyspark.sql.functions:": None,
    "pyspark.sql.readwriter:DataFrameWriter": None,
    "pyspark.sql.readwriter:DataFrameReader": None,
    "pyspark.sql.session:SparkSession": ("createDataFrame", "range", "sql",
                                         "table"),
    "pyspark.sql.observation:Observation": ("get",),
    "py4j.java_gateway:JavaMember": ("__call__",),
}
# Column operators are dunder methods; these few are not operators
_NOT_OPS = {"__init__", "__getattr__", "__repr__", "__bool__", "__nonzero__",
            "__iter__", "__contains__", "__getnewargs__"}
_PACKAGE = "logstash_codec_protobuf_spark."


def _caller() -> str:
    """Module of the nearest frame outside PySpark and this file: an engine
    module relative to the package, or the calling script's module."""
    f = sys._getframe(2)
    while f is not None:
        mod = f.f_globals.get("__name__", "")
        if not (mod.startswith(("pyspark", "py4j")) or mod == __name__):
            return mod[len(_PACKAGE):] if mod.startswith(_PACKAGE) else mod
        f = f.f_back
    return "?"


@contextlib.contextmanager
def pyspark_calls(tracer: Tracer):
    """Record ``<caller module>:<Class>.<method>`` and ``<caller
    module>:py4j`` spans, parented to the tracer's innermost open span,
    while the block runs. A call made inside another recorded call (PySpark
    calling itself or the JVM) is not recorded again."""
    import importlib
    import inspect

    depth = threading.local()
    saved = []

    def wrap(fn, label):
        def traced(*args, **kwargs):
            parent = tracer.current()
            if parent is None or getattr(depth, "n", 0):
                return fn(*args, **kwargs)
            name = f"{_caller()}:{label}"
            depth.n = 1
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                depth.n = 0
                tracer.add(name, t0, time.time(), parent)
        return traced

    for where, names in _CALLS.items():
        mod_name, cls_name = where.split(":")
        mod = importlib.import_module(mod_name)
        owner = getattr(mod, cls_name) if cls_name else mod
        if names is None:
            names = [n for n, v in vars(owner).items()
                     if inspect.isfunction(v) and n not in _NOT_OPS
                     and (not n.startswith("_") or n.endswith("__"))]
        for n in names:
            orig = vars(owner)[n]
            label = ("py4j" if n == "__call__" else
                     f"{cls_name}.{n}" if cls_name else f"functions.{n}")
            saved.append((owner, n, orig))
            setattr(owner, n, property(wrap(orig.fget, label))
                    if isinstance(orig, property) else wrap(orig, label))
    try:
        yield
    finally:
        for owner, n, orig in saved:
            setattr(owner, n, orig)

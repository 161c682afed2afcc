"""In-memory spans recorded around calls into ayeaye_spark's modules.

The program is not edited: :func:`install` wraps the public entry points
of each layer (session, resolver, dataset handles, connectors, model
lifecycle, collection, operators) from outside.  Each wrapper checks
``Tracer.enabled`` first, so untraced iterations in a traced run pay one
attribute lookup per call.  Spans carry (trace id, span id, parent,
name, start, end); the parent is the innermost open span of the calling
thread, or, for a pool thread with nothing open, the innermost open span
of the main thread (the collection layer or the partitioned build that
spawned it).
"""

from __future__ import annotations

import functools
import inspect
import itertools
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    trace_id: str
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.trace_id = ""
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def start(self, name: str, **attrs: Any) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(self.trace_id, next(self._ids),
                        parent.span_id if parent else None, name, time.perf_counter(),
                        attrs=attrs)
            self.spans.append(span)
        stack.append(span)
        return span

    def finish(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def wrap(self, fn: Callable, name: str | Callable[..., str | None],
             on_exit: Callable[[Span, tuple, Any], None] | None = None) -> Callable:
        """``fn`` recorded as a span; ``name`` may be computed from the
        call's arguments and return None to skip the span."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span_name = name(*args, **kwargs) if callable(name) else name
            if span_name is None:
                return fn(*args, **kwargs)
            span = tracer.start(span_name)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            except BaseException as exc:
                span.attrs["error"] = type(exc).__name__
                raise
            finally:
                tracer.finish(span)
                if on_exit is not None:
                    on_exit(span, args, result)

        return traced

    def to_json(self) -> list[dict[str, Any]]:
        return [
            {"trace_id": s.trace_id, "span_id": s.span_id, "parent_id": s.parent_id,
             "name": s.name, "start": s.start, "end": s.end, **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 1e6


def install(tracer: Tracer, model_classes: list[type], subtask_methods: dict[type, str]) -> None:
    """Wrap each layer's public entry points.  ``model_classes`` are the
    workload's concrete models (their lifecycle hooks are overridden per
    class, so they are wrapped per class); ``subtask_methods`` names the
    partitioned models' subtask method."""
    from ayeaye_spark.core import session
    from ayeaye_spark.core.collection import ModelCollection
    from ayeaye_spark.core.dataset import Connect, DatasetHandle
    from ayeaye_spark.core.model import Model
    from ayeaye_spark.operators import dedup, relational, sampling, text
    from ayeaye_spark.sources import file_formats, webdataset

    session.get_spark = tracer.wrap(session.get_spark, "session.get_spark")
    Connect.build_connector = tracer.wrap(Connect.build_connector, "resolve")

    df_getter = DatasetHandle.df.fget
    DatasetHandle.df = property(tracer.wrap(
        df_getter, lambda handle: "dataset.read" if handle._df is None else None))

    def record_write_mb(span: Span, args: tuple, _result: Any) -> None:
        path = args[0].connector.local_path
        span.attrs["mb"] = _dir_mb(path) if os.path.exists(path) else 0.0

    DatasetHandle.write = tracer.wrap(DatasetHandle.write, "dataset.write", record_write_mb)

    # take every original before setting any wrapper: TsvConnector.read
    # IS CsvConnector.read, and wrapping one must not wrap the other twice
    connector_methods = [
        (file_formats.ParquetConnector, "read"), (file_formats.ParquetConnector, "write"),
        (file_formats.CsvConnector, "read"), (file_formats.CsvConnector, "write"),
        (file_formats.TsvConnector, "read"), (file_formats.TsvConnector, "write"),
        (file_formats.NdjsonConnector, "read"), (file_formats.NdjsonConnector, "write"),
        (file_formats.JsonConnector, "flush"),
        (webdataset.WebDatasetConnector, "read"), (webdataset.WebDatasetConnector, "write"),
    ]
    originals = [(cls, meth, getattr(cls, meth)) for cls, meth in connector_methods]
    for cls, meth, fn in originals:
        verb = "write" if meth == "flush" else meth
        setattr(cls, meth, tracer.wrap(fn, f"sources.{cls.engine_types[0]}.{verb}"))

    def go_done(span: Span, _args: tuple, result: Any) -> None:
        span.attrs["ok"] = bool(result) and "error" not in span.attrs

    Model.go = tracer.wrap(
        Model.go, lambda self, *a, **k: f"model.go:{type(self).__name__}", go_done)
    for cls in model_classes:
        for hook, span_name in (("pre_build_check", "model.pre_build_check"),
                                ("_build", "model.build"),
                                ("post_build_check", "model.post_build_check")):
            setattr(cls, hook, tracer.wrap(getattr(cls, hook), span_name))
    for cls, method in subtask_methods.items():
        setattr(cls, method, tracer.wrap(getattr(cls, method), "partition.subtask"))

    ModelCollection.run_order = tracer.wrap(ModelCollection.run_order, "collection.run_order")
    ModelCollection.run = tracer.wrap(ModelCollection.run, "collection.run")

    for mod in (dedup, text, sampling, relational):
        short = mod.__name__.rsplit(".", 1)[1]
        for attr, obj in list(vars(mod).items()):
            if (inspect.isfunction(obj) and obj.__module__ == mod.__name__
                    and not attr.startswith("_")):
                setattr(mod, attr, tracer.wrap(obj, f"operators.{short}.{attr}"))


# -- summaries ------------------------------------------------------------

MODULE_OF = [
    ("session.", "core.session"),
    ("resolve", "core.resolver"),
    ("dataset.", "core.dataset"),
    ("sources.", "sources"),
    ("model.", "core.model"),
    ("partition.", "core.model"),
    ("collection.", "core.collection"),
    ("operators.", "operators"),
    ("iteration", "harness"),
]


def module_of(name: str) -> str:
    for prefix, module in MODULE_OF:
        if name.startswith(prefix):
            return module
    raise ValueError(f"span {name!r} maps to no module")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(max(c.start, s.start), min(c.end, s.end))
                                for c in children.get(s.span_id, [])
                                if c.end > s.start and c.start < s.end])
        out[s.span_id] = s.duration - covered
    return out


def _outermost(spans: list[Span], prefix: str) -> list[Span]:
    """Spans named ``prefix*`` with no ancestor of the same prefix (an
    operator calling another operator of its module counts once)."""
    by_id = {s.span_id: s for s in spans}

    def nested(s: Span) -> bool:
        p = by_id.get(s.parent_id)
        while p is not None:
            if p.name.startswith(prefix):
                return True
            p = by_id.get(p.parent_id)
        return False

    return [s for s in spans if s.name.startswith(prefix) and not nested(s)]


def iteration_metrics(spans: list[Span], layers: list[list[str]]) -> dict[str, float]:
    """Per-layer numbers of ONE traced iteration.  ``layers`` is the
    collection's run order as model class names (empty when the workload
    runs no collection)."""
    m: dict[str, float] = {}

    def busy(name_prefix: str) -> list[Span]:
        return _outermost(spans, name_prefix)

    resolves = busy("resolve")
    m["resolve.calls"] = len(resolves)
    m["resolve.busy_s"] = sum(s.duration for s in resolves)
    for verb in ("read", "write"):
        ss = busy(f"dataset.{verb}")
        m[f"dataset.{verb}_calls"] = len(ss)
        m[f"dataset.{verb}_busy_s"] = sum(s.duration for s in ss)
    m["dataset.write_mb"] = sum(s.attrs.get("mb", 0.0) for s in busy("dataset.write"))
    for engine, verb in (("parquet", "write"), ("csv", "read"), ("tsv", "read"),
                         ("ndjson", "read"), ("ndjson", "write"), ("json", "write"),
                         ("wds", "write")):
        m[f"sources.{engine}.{verb}_busy_s"] = sum(
            s.duration for s in busy(f"sources.{engine}.{verb}"))

    gos = [s for s in spans if s.name.startswith("model.go:")]
    m["model.go_calls"] = len(gos)
    m["model.go_failed"] = sum(1 for s in gos if not s.attrs.get("ok"))
    for hook in ("pre_build_check", "build", "post_build_check"):
        m[f"model.{hook}_s"] = sum(s.duration for s in busy(f"model.{hook}"))
    m["model.go_p50_s"] = statistics.median([s.duration for s in gos]) if gos else 0.0

    subs = [s for s in spans if s.name == "partition.subtask"]
    m["partition.subtasks"] = len(subs)
    m["partition.subtask_busy_s"] = sum(s.duration for s in subs)
    wall = (max(s.end for s in subs) - min(s.start for s in subs)) if subs else 0.0
    m["partition.wall_s"] = wall
    m["partition.parallel_ratio"] = m["partition.subtask_busy_s"] / wall if wall else 0.0

    m["collection.run_order_s"] = sum(s.duration for s in busy("collection.run_order"))
    m["collection.layers"] = len(layers)
    layer_wall, go_sum, straggler = 0.0, 0.0, 0.0
    for layer in layers:
        ss = [s for s in gos if s.name.split(":", 1)[1] in layer]
        if not ss:
            continue
        layer_wall += max(s.end for s in ss) - min(s.start for s in ss)
        durations = [s.duration for s in ss]
        go_sum += sum(durations)
        straggler += max(durations) - statistics.median(durations)
    m["collection.layer_wall_s"] = layer_wall
    m["collection.parallel_ratio"] = go_sum / layer_wall if layer_wall else 0.0
    m["collection.straggler_s"] = straggler

    for op in ("dedup", "text", "sampling", "relational"):
        ss = busy(f"operators.{op}.")
        m[f"operators.{op}.calls"] = len(ss)
        m[f"operators.{op}.busy_s"] = sum(s.duration for s in ss)

    selfs = self_times(spans)
    per_module: dict[str, float] = {}
    for s in spans:
        mod = module_of(s.name)
        per_module[mod] = per_module.get(mod, 0.0) + selfs[s.span_id]
    # session spans happen in set-up, outside every iteration
    for mod in {mod for _, mod in MODULE_OF} - {"core.session"}:
        m[f"self.{mod}_s"] = per_module.get(mod, 0.0)
    return m

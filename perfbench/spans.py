"""Spans recorded around the calls the benchmark makes into each layer.

A span is (id, name, start, end, parent). Spans live in memory and are
written out when the run ends. Calls into the package are wrapped from
here, by replacing module attributes for the length of a traced run;
nothing inside the package is instrumented. Each wrapper materialises
the DataFrames the call returns (persist + count) inside its span, so a
layer's span holds that layer's work and its consumers read persisted
input.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import threading
import time
from unittest import mock

from pyspark.sql import DataFrame


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        # span times are perf_counter seconds; epoch_at maps them to the
        # wall clock the Spark event log uses
        self._perf0, self._epoch0 = time.perf_counter(), time.time()

    def epoch_at(self, t: float) -> float:
        return self._epoch0 + (t - self._perf0)

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            # a driver thread started inside a span (the CLI's concurrent
            # sink writers) is caused by the main thread's open span
            self._local.stack = self._main_stack[-1:]
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end, "parent": parent}
                )

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + value


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds attributed to each span name.

    Every instant covered by some span goes to the innermost spans open
    at that instant, split evenly when several run at once (concurrent
    sink writers). The values therefore sum to the wall time the spans
    cover: a span's self time is its duration minus the part its
    children cover, and siblings running in parallel share the interval
    instead of counting it twice."""
    if not spans:
        return {}
    has_child: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            has_child.setdefault(s["parent"], []).append(s)
    cuts = sorted({s["start"] for s in spans} | {s["end"] for s in spans})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        active = [s for s in spans if s["start"] <= a and s["end"] >= b]
        leaves = [
            s for s in active
            if not any(c["start"] <= a and c["end"] >= b for c in has_child.get(s["id"], ()))
        ]
        for s in leaves:
            out[s["name"]] = out.get(s["name"], 0.0) + (b - a) / len(leaves)
    return out


def materialize(value, tracer: Tracer, count_key: str | None):
    """persist + count every DataFrame in ``value``, a DataFrame or a dict
    of them. A DataFrame's count is added under ``count_key``; a dict's
    counts under ``count_key.<result key>``."""
    if isinstance(value, DataFrame):
        n = value.persist().count()
        if count_key:
            tracer.add(count_key, n)
    elif isinstance(value, dict):
        for key, df in value.items():
            if isinstance(df, DataFrame):
                n = df.persist().count()
                if count_key:
                    tracer.add(f"{count_key}.{key}", n)
    return value


def wrapped(tracer: Tracer, fn, name: str, count_key: str | None = None,
            materialize_result: bool = True):
    def call(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
            if materialize_result:
                materialize(out, tracer, count_key)
            return out

    return call


def instrument(tracer: Tracer, targets) -> contextlib.ExitStack:
    """Patch ``(owner, attribute, span name, count key, materialize)``
    targets for the length of the returned context; ``owner`` is a module
    name or an object such as a class."""
    stack = contextlib.ExitStack()
    for owner, attr, name, count_key, mat in targets:
        if isinstance(owner, str):
            owner = importlib.import_module(owner)
        fn = getattr(owner, attr)
        stack.enter_context(
            mock.patch.object(owner, attr, wrapped(tracer, fn, name, count_key, mat))
        )
    return stack

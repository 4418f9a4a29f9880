"""In-memory span recorder for the traced benchmark run.

Spans come from the benchmark's own files only: ``Tracer.wrap`` replaces a
public function at a module boundary with a wrapper that records
(name, start, end, parent) around the call, and the engine's own event log
supplies the queue/prepare/execute phases of each run. No program file is
edited.

Operation ids: the client thread opens an ``op`` span per operation; spans
recorded on an engine worker thread (named ``bacalhau-run-<run_id>`` by the
engine) carry that run id, and ``finish`` maps run ids to the operation
that submitted them, so every span of one operation shares its id.
"""
from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

_RUN_THREAD = "bacalhau-run-"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._run_op: dict[str, int] = {}

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, op: int | None) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else None
        run = threading.current_thread().name
        span = {"id": next(self._ids), "name": name,
                "parent": parent["id"] if parent else None,
                "op": op if op is not None else (parent or {}).get("op"),
                "run": run[len(_RUN_THREAD):]
                if run.startswith(_RUN_THREAD) else None,
                "start": time.time(), "end": None}
        stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        s = self._open(name, op)
        try:
            yield s
        finally:
            self._close(s)

    def new_op(self) -> int:
        return next(self._ids)

    def bind_run(self, run_id: str, op: int) -> None:
        with self._lock:
            self._run_op[run_id] = op

    def add(self, name: str, op: int | None, start: float, end: float,
            parent: int | None = None, run: str | None = None) -> int:
        """Record a span measured elsewhere (engine event timestamps)."""
        sid = next(self._ids)
        with self._lock:
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "op": op, "run": run, "start": start,
                               "end": end})
        return sid

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(module, attr, traced)

    def finish(self) -> list[dict]:
        """Resolve run ids to operation ids and attach top-level worker
        spans to the engine phase span that contains them."""
        with self._lock:
            spans = list(self.spans)
        phases = {}
        for s in spans:
            if s["run"] and s["name"].startswith("engine."):
                phases.setdefault(s["run"], []).append(s)
        for s in spans:
            if s["op"] is None and s["run"] in self._run_op:
                s["op"] = self._run_op[s["run"]]
            if s["parent"] is None and s["run"] \
                    and not s["name"].startswith("engine."):
                inside = [p for p in phases.get(s["run"], ())
                          if p["start"] <= s["start"] <= p["end"]]
                if inside:  # the innermost phase
                    s["parent"] = min(inside, key=lambda p: p["end"]
                                      - p["start"])["id"]
        return spans


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer (the span name's first dotted component): each
    span's duration minus the part of it its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur = 0.0, s["start"]
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur = hi
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered)
    return out


def write_spans(spans: list[dict], path: str) -> None:
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s, sort_keys=True) + "\n")

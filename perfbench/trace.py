"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files only: around the calls
it makes into the engine, and around engine functions it replaces with
``Traced`` wrappers for the length of a run. Nothing inside the engine
knows about tracing.

A span is ``[name, start_ns, end_ns, parent_index, op_id]``. Op spans
(one per timed operation) are always recorded; layer spans only while
``enabled`` is true, so one run can time the same query with and without
layer spans and report the difference as the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Traced:
    """Callable stand-in for an engine function that records a span per
    call. ``on_return`` sees each result (used to capture query terms).

    Pickling yields the ORIGINAL function: the distributed scorer closure
    references the kernels as module globals, and a Python worker must
    run the engine's own code, not a benchmark wrapper."""

    def __init__(self, tracer: "Tracer", fn, name: str, on_return=None):
        self.tracer, self.fn, self.name, self.on_return = tracer, fn, name, on_return
        functools.update_wrapper(self, fn)

    def __call__(self, *args, **kwargs):
        if not self.tracer.enabled:
            return self.fn(*args, **kwargs)
        with self.tracer.span(self.name):
            out = self.fn(*args, **kwargs)
        if self.on_return is not None:
            self.on_return(out)
        return out

    def __get__(self, obj, objtype=None):  # so a wrapped method still binds
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return (getattr, (sys.modules[self.fn.__module__], self.fn.__name__))


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.enabled = True
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    def _open(self, name: str) -> int:
        i = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter_ns(), 0, parent, self.op_id])
        self._stack.append(i)
        return i

    def _close(self, i: int) -> None:
        self._stack.pop()
        self.spans[i][2] = time.perf_counter_ns()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        i = self._open(name)
        try:
            yield
        finally:
            self._close(i)

    @contextmanager
    def op(self, op_id: int, kind: str):
        """Top-level span of one timed operation (recorded even when layer
        spans are disabled)."""
        self.op_id = op_id
        i = self._open("op." + kind)
        try:
            yield
        finally:
            self._close(i)
            self.op_id = None

    def patch(self, owner, attr: str, name: str, on_return=None) -> None:
        orig = getattr(owner, attr)
        if isinstance(orig, Traced):
            raise RuntimeError(f"{owner!r}.{attr} is already traced")
        # class attributes are read raw so a method is wrapped unbound
        raw = owner.__dict__[attr] if isinstance(owner, type) else orig
        setattr(owner, attr, Traced(self, raw, name, on_return))
        self._patches.append((owner, attr, raw))

    def restore(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    # ------------------------------------------------------------ analysis

    def self_ns(self) -> list[int]:
        """Per span: its duration minus the time its direct children
        cover (children never overlap: the driver is single-threaded)."""
        own = [s[2] - s[1] for s in self.spans]
        for s in self.spans:
            if s[3] >= 0:
                own[s[3]] -= s[2] - s[1]
        return own

    def by_op(self) -> dict[int, dict[str, tuple[int, int, int]]]:
        """op_id -> layer name -> (calls, total_ns, self_ns)."""
        own = self.self_ns()
        out: dict[int, dict[str, list[int]]] = defaultdict(lambda: defaultdict(lambda: [0, 0, 0]))
        for s, o in zip(self.spans, own):
            if s[4] is None:
                continue
            acc = out[s[4]][s[0]]
            acc[0] += 1
            acc[1] += s[2] - s[1]
            acc[2] += o
        return {op: {k: tuple(v) for k, v in d.items()} for op, d in out.items()}

    def top_level_ns(self, start_ns: int, end_ns: int) -> int:
        """Time inside [start_ns, end_ns] covered by top-level op spans."""
        return sum(
            max(0, min(s[2], end_ns) - max(s[1], start_ns))
            for s in self.spans
            if s[3] == -1 and s[0].startswith("op.")
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(zip(("name", "start_ns", "end_ns", "parent", "op"), s)) for s in self.spans],
                f,
            )

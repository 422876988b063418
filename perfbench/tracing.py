"""In-memory spans for the traced run.

A span is (name, start, end, parent, op id).  Spans are recorded by the
benchmark around calls into the program's layers: the benchmark's own
calls, and -- in the traced run only -- module attributes wrapped from
outside (``Tracer.wrap``), which is how calls the program makes to its own
layers are seen without changing program files.  Only the thread that runs
the benchmark records spans; calls made on other threads are counted.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent index, op id]
        self.counts: Counter = Counter()
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._owner = threading.get_ident()
        self._lock = threading.Lock()
        self._restore: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._owner:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def wrap(self, module, attr: str, span: str | None = None,
             count: str | None = None) -> None:
        """Replace ``module.attr`` with a wrapper recording a span and/or a
        call count; ``unwrap_all`` puts the originals back."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if count and self.enabled:
                self.count(count)
            if span:
                with self.span(span):
                    return orig(*args, **kwargs)
            return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)

    def durations(self, name: str, op_id: int | None = None) -> list[float]:
        return [s[2] - s[1] for s in self.spans
                if s[0] == name and s[2] is not None
                and (op_id is None or s[4] == op_id)]

    def self_times(self) -> dict[str, float]:
        """Total self time per layer (span-name prefix before the first dot):
        a span's duration minus the time its direct children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                child_time[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s[2] is not None:
                out[s[0].split(".")[0]] += (s[2] - s[1]) - child_time[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [dict(name=s[0], start=s[1], end=s[2], parent=s[3], op=s[4])
                          for s in self.spans],
                "counts": dict(self.counts),
            }, f)

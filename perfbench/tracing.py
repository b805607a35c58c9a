"""In-memory spans around the calls into each layer's public functions.

Wrappers are installed from the benchmark's own files (no code inside
the engine changes): a name is wrapped where its caller looks it up,
so a function imported by value into another module (``engine``
imports ``rewrite`` from ``dialect``) is replaced in every module of
the package that holds it.

A span is ``(id, name, start, end, parent, stmt)`` with times from
``time.monotonic`` (CLOCK_MONOTONIC, shared by every process on the
host, so client and gateway spans line up). Spans stay in memory and
are written out once, at exit.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import Counter

PACKAGE = "flink_sql_toolkit_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: Counter = Counter()
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_stmt(self):
        st = self._stack()
        return st[-1][1] if st else None

    def begin(self, name: str, stmt=None) -> tuple:
        st = self._stack()
        parent = st[-1][0] if st else None
        if stmt is None and st:
            stmt = st[-1][1]
        with self._lock:
            sid = next(self._ids)
        st.append((sid, stmt))
        return (sid, name, time.monotonic(), parent, stmt)

    def end(self, token: tuple) -> float:
        t1 = time.monotonic()
        sid, name, t0, parent, stmt = token
        self._stack().pop()
        with self._lock:
            self.spans.append((sid, name, t0, t1, parent, stmt))
        return t1 - t0

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def wrap(self, fn, name: str, stmt_of=None, after=None):
        """``fn`` inside a span ``name``; ``stmt_of(args, kwargs)``
        names the statement, ``after(args, result)`` runs on return."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tok = self.begin(name, stmt_of(args, kwargs) if stmt_of else None)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(tok)
            if after is not None:
                after(args, out)
            return out

        return traced

    def dump(self, path: str, **extra) -> None:
        with self._lock:
            payload = {
                "spans": self.spans,
                "counts": dict(self.counts),
                **extra,
            }
        with open(path, "w") as fh:
            json.dump(payload, fh, default=str)


def replace_everywhere(orig, replacement) -> int:
    """Rebind every package-module attribute that holds ``orig``."""
    n = 0
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, replacement)
                n += 1
    return n


def wrap_function(tracer: Tracer, module, attr: str, name: str, **kw) -> None:
    orig = getattr(module, attr)
    replace_everywhere(orig, tracer.wrap(orig, name, **kw))


def wrap_method(tracer: Tracer, cls, attr: str, name: str, **kw) -> None:
    setattr(cls, attr, tracer.wrap(getattr(cls, attr), name, **kw))

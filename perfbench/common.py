"""Shared pieces of the workloads: run context, statistics, the
expected-answer comparison and the trace's self-time accounting."""

from __future__ import annotations

import bisect
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
# Flink DDL type of each parquet column type the fixtures use
DDL_TYPES = {
    "int64": "BIGINT", "int32": "INT", "double": "DOUBLE", "string": "STRING",
    "timestamp[us]": "TIMESTAMP(6)", "list<item: float>": "ARRAY<FLOAT>",
}


@dataclass
class Context:
    run_dir: str  # scratch space of this run, inside the checkout
    seed: int
    seconds: float
    trace: bool
    t_process: float  # monotonic time the benchmark process started
    env: dict  # environment of the system under test
    detail: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


@dataclass
class Outcome:
    attempted: int
    failed: int
    end_to_end: dict  # name -> value
    per_layer: dict  # name -> value (traced run only)
    detail: dict


def pct(values, q: float) -> float:
    """``q``-th percentile (0-100) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def mean(total: float, n: float) -> float:
    """``total / n``; 0 when nothing was counted."""
    return total / n if n else 0.0


def ddl(name: str, path: str) -> str:
    """Flink CREATE TABLE for one parquet file, schema read from it."""
    import pyarrow.parquet as pq

    cols = ", ".join(f"{f.name} {DDL_TYPES[str(f.type)]}" for f in pq.read_schema(path))
    return (f"CREATE TABLE {name} ({cols}) WITH ('connector'='filesystem', "
            f"'path'='{path}', 'format'='parquet')")


# -- expected answers -------------------------------------------------

def _verify_local():
    tools = os.path.join(os.path.dirname(HERE), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import verify_local

    return verify_local


def wire_rows(rows) -> list[list]:
    """Rows as a gateway client receives them: through the gateway's
    own JSON encoding (non-finite floats nulled, datetimes and
    decimals as strings)."""
    from flink_sql_toolkit_spark.gateway import _finite, _json_default

    return json.loads(json.dumps(_finite([list(r) for r in rows]), default=_json_default))


def row_hashes(cols, rows) -> list[str]:
    """``tools/verify_local.py``'s order-insensitive row hash."""
    return _verify_local().row_hashes(cols, rows)


def same_answer(cols_a, rows_a, cols_b, rows_b) -> bool:
    return (sorted(cols_a) == sorted(cols_b)
            and row_hashes(cols_a, rows_a) == row_hashes(cols_b, rows_b))


# -- trace accounting ---------------------------------------------------

# Deeper layers win an instant both cover: the gateway's HTTP handler
# covers its result_page, which covers the engine's fetch, and so on.
# Only spans taken inside the gateway process count, so the share of a
# statement's wall time they cover is what the server accounts for.
LAYER_DEPTH = {
    "gateway.handler": 1, "gateway.result_page": 2,
    "engine.execute": 3, "engine.fetch": 3, "connectors.build_reader": 4,
    "connectors.build_writer": 4, "dialect.rewrite": 5, "catalyst.sql": 5,
    "spark.to_local_iterator": 5,
}
# spans taken while serving a result request
REQUEST_SPANS = {"gateway.handler", "gateway.result_page", "engine.fetch"}


def self_times(spans, t0: float, t1: float) -> dict[str, float]:
    """Split ``[t0, t1]`` among ``spans`` (name, start, end): each
    instant goes to the deepest span covering it (a span's self time
    is its duration minus what its child spans cover). Instants no
    span covers are left out."""
    edges = sorted({t0, t1, *(max(t0, min(t1, s)) for _, s, _ in spans),
                    *(max(t0, min(t1, e)) for _, _, e in spans)})
    out: dict[str, float] = {}
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        best = None
        for name, s, e in spans:
            if s <= mid < e and (best is None or LAYER_DEPTH.get(name, 9) >= LAYER_DEPTH.get(best, 9)):
                best = name
        if best is not None:
            out[best] = out.get(best, 0.0) + (b - a)
    return out


def now() -> float:
    return time.monotonic()


def started_within(requests: list):
    """Predicate: did a span starting at ``t0`` start inside one of
    ``requests`` (``(token, t0, t1, ...)``, one client, so they do not
    overlap)? Only the start is tested: the gateway may record the end
    of its handler after the client has already read the reply."""
    spans = sorted((rq[1], rq[2]) for rq in requests)
    starts = [a for a, _ in spans]

    def test(t0: float) -> bool:
        i = bisect.bisect_right(starts, t0) - 1
        return i >= 0 and t0 <= spans[i][1]

    return test


def gateway_layers(trace: dict, requests: list, handles: set) -> dict:
    """Gateway and engine numbers of the statements ``handles``.

    ``requests`` are the client's result requests as
    ``(token, t0, t1, reply_bytes, rows, resultType)``; spans come
    from the gateway's trace, those of result requests only when they
    start inside one of ``requests``."""
    inside = started_within(requests)
    dur: dict[str, float] = {}
    calls: dict[str, int] = {}
    for _, name, t0, t1, _, stmt in trace["spans"]:
        if stmt in handles and (name not in REQUEST_SPANS or inside(t0)):
            dur[name] = dur.get(name, 0.0) + (t1 - t0)
            calls[name] = calls.get(name, 0) + 1
    pages = [rq for rq in requests if rq[5] != "NOT_READY"]
    client_s = sum(rq[2] - rq[1] for rq in requests)
    page_s = dur.get("gateway.result_page", 0)
    return {
        "gateway.page_ms": mean(page_s * 1000, calls.get("gateway.result_page", 0)),
        "gateway.http_ms": mean((client_s - page_s) * 1000, len(requests)),
        "gateway.handler_ms": mean((dur.get("gateway.handler", 0) - page_s) * 1000,
                                   calls.get("gateway.handler", 0)),
        "gateway.reply_bytes_per_row": mean(sum(rq[3] for rq in pages),
                                            sum(rq[4] for rq in pages)),
        "gateway.not_ready_ratio": mean(len(requests) - len(pages), len(requests)),
        "engine.execute_ms": mean(dur.get("engine.execute", 0) * 1000,
                                  calls.get("engine.execute", 0)),
        "engine.fetch_ms": mean(dur.get("engine.fetch", 0) * 1000, calls.get("engine.fetch", 0)),
        "spark.to_local_iterator_ms": mean(dur.get("spark.to_local_iterator", 0) * 1000,
                                           len(handles)),
        "dialect.rewrite_ms": mean(dur.get("dialect.rewrite", 0) * 1000, len(handles)),
        "dialect.rewrite_calls_per_stmt": mean(calls.get("dialect.rewrite", 0), len(handles)),
        "catalyst.sql_ms": mean(dur.get("catalyst.sql", 0) * 1000, len(handles)),
    }


def connector_layers(trace: dict) -> dict:
    dur: dict[str, float] = {}
    calls: dict[str, int] = {}
    for _, name, t0, t1, _, _ in trace["spans"]:
        if name.startswith("connectors."):
            dur[name] = dur.get(name, 0.0) + (t1 - t0)
            calls[name] = calls.get(name, 0) + 1
    return {
        "connectors.build_reader_ms": mean(dur.get("connectors.build_reader", 0) * 1000,
                                           calls.get("connectors.build_reader", 0)),
        "connectors.build_reader_calls": calls.get("connectors.build_reader", 0),
        "connectors.build_writer_ms": mean(dur.get("connectors.build_writer", 0) * 1000,
                                           calls.get("connectors.build_writer", 0)),
    }

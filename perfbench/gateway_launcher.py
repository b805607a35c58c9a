"""Runs the REST gateway as its own process, built exactly as
``flink_sql_toolkit_spark.gateway.main()`` builds it
(``Gateway(build_spark("gateway"), ...)`` then ``start()``), on a free
port.

    python3 perfbench/gateway_launcher.py [--trace]

Prints ``READY <url> <JSON>`` once it serves; the JSON holds the
effective Spark conf (``conf``) and the scratch directories this Spark
created under its local dir (``scratch``), which the caller deletes
once the process has ended. Then reads commands on stdin, answering
each with one ``OK`` line:

- ``snapshot <path>`` writes the trace (with ``--trace``) plus the
  ``recentProgress`` of every streaming job to ``<path>``;
- ``exit`` (or end of input) stops the gateway and Spark.

With ``--trace`` the layer wrappers of ``install_wrappers`` are in
place before the first request.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Tracer, wrap_function, wrap_method  # noqa: E402


class StatementAccounting:
    """Per-statement Spark job/stage/task counts (status-tracker deltas
    between a statement's start and its EOS; statements run one at a
    time) and Catalyst phase times of the DataFrames it built."""

    def __init__(self, spark, tracer: Tracer):
        self.tracker = spark.sparkContext._jsc.sc().statusTracker()
        self.tracer = tracer
        self.open: dict[str, dict] = {}
        self.done: dict[str, dict] = {}

    def _job_ids(self) -> list[int]:
        # batch statements run ungrouped; streaming micro-batches carry
        # their query's run id as job group and stay out of the count
        return list(self.tracker.getJobIdsForGroup(None))

    def start(self, handle: str) -> None:
        self.open[handle] = {"mark": max(self._job_ids(), default=-1), "dfs": []}

    def add_df(self, df) -> None:
        st = self.open.get(self.tracer.current_stmt())
        if st is not None:
            st["dfs"].append(df)

    def finish(self, handle: str) -> None:
        st = self.open.pop(handle, None)
        if st is None:
            return
        jobs = [j for j in self._job_ids() if j > st["mark"]]
        stages: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info.isDefined():
                stages.update(int(s) for s in info.get().stageIds())
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info.isDefined():
                tasks += int(info.get().numTasks())
        rec = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
               "optimization_ms": 0.0, "planning_ms": 0.0}
        for df in st["dfs"]:
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("optimization", "planning"):
                opt = phases.get(phase)
                if opt.isDefined():
                    rec[f"{phase}_ms"] += float(opt.get().durationMs())
        self.done[handle] = rec


def _op_of(path: str):
    m = re.search(r"/operations/([^/]+)/", path)
    return m.group(1) if m else None


def install_wrappers(tracer: Tracer, spark) -> StatementAccounting:
    """Spans around each layer's public calls inside the gateway."""
    from pyspark.sql import SparkSession

    from flink_sql_toolkit_spark import dialect, engine, gateway, metadata
    from flink_sql_toolkit_spark.sources import connectors
    from flink_sql_toolkit_spark.streaming import buffer

    acct = StatementAccounting(spark, tracer)
    # the server side of every request: body read, routing, the
    # endpoint, json.dumps and the write of the reply
    wrap_method(tracer, gateway._Handler, "_dispatch", "gateway.handler",
                stmt_of=lambda a, k: _op_of(a[0].path))
    wrap_method(tracer, gateway.Gateway, "result_page", "gateway.result_page",
                stmt_of=lambda a, k: a[2])

    execute = engine.Operation._execute

    def traced_execute(op, *a, **k):
        acct.start(op.handle)
        tok = tracer.begin("engine.execute", op.handle)
        try:
            return execute(op, *a, **k)
        finally:
            tracer.end(tok)

    engine.Operation._execute = traced_execute

    def after_fetch(args, page):
        if page.get("resultType") == "EOS":
            acct.finish(args[0].handle)

    wrap_method(tracer, engine.Operation, "fetch", "engine.fetch",
                stmt_of=lambda a, k: a[0].handle, after=after_fetch)
    wrap_function(tracer, dialect, "rewrite", "dialect.rewrite")
    wrap_method(tracer, SparkSession, "sql", "catalyst.sql",
                after=lambda a, df: acct.add_df(df))
    # the engine's DataFrames are the session's concrete (classic) class,
    # which overrides the base class's methods
    frame_cls = type(spark.range(0))
    wrap_method(tracer, frame_cls, "toLocalIterator", "spark.to_local_iterator")
    wrap_function(tracer, connectors, "build_reader", "connectors.build_reader")
    wrap_function(tracer, connectors, "build_writer", "connectors.build_writer")
    wrap_method(tracer, buffer.StreamResultBuffer, "foreach_batch", "buffer.batch")

    get = metadata.MetadataCache.get

    def traced_get(cache, key, fetcher):
        tracer.count("metadata.get")

        def counted():
            tracer.count("metadata.fetch")
            return fetcher()

        return get(cache, key, counted)

    metadata.MetadataCache.get = traced_get
    return acct


def scratch_dirs(spark) -> list[str]:
    """The block manager's directories and the session's root directory
    (the parent of ``SparkFiles``' one) under Spark's local dir."""
    from pyspark import SparkFiles

    env = spark._jvm.org.apache.spark.SparkEnv.get()
    dirs = [str(d.getAbsolutePath()) for d in env.blockManager().diskBlockManager().localDirs()]
    return dirs + [os.path.dirname(SparkFiles.getRootDirectory())]


def stream_progress(gw) -> list[dict]:
    out = []
    for sess in list(gw.engine.sessions.values()):
        for job in sess.jobs.list():
            try:
                progress = list(job.query.recentProgress)
            except Exception:  # noqa: BLE001 — a torn-down query has none
                progress = []
            out.append({"job": job.job_id, "name": job.name, "progress": progress})
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from flink_sql_toolkit_spark.gateway import Gateway
    from flink_sql_toolkit_spark.session import build_spark

    spark = build_spark("gateway")
    tracer = Tracer() if args.trace else None
    acct = install_wrappers(tracer, spark) if tracer else None
    gw = Gateway(spark, host="127.0.0.1", port=0, session_idle_timeout_s=None)
    gw.start()
    ready = {"conf": dict(spark.sparkContext.getConf().getAll()),
             "scratch": scratch_dirs(spark)}
    print(f"READY {gw.url} {json.dumps(ready)}", flush=True)
    try:
        for line in sys.stdin:
            cmd, _, arg = line.strip().partition(" ")
            if cmd == "snapshot":
                extra = {"streams": stream_progress(gw)}
                if tracer is not None:
                    tracer.dump(arg, statements=acct.done, **extra)
                else:
                    Tracer().dump(arg, **extra)
            elif cmd == "exit":
                break
            print("OK", flush=True)
    finally:
        gw.stop()
        spark.stop()
    print("OK", flush=True)


if __name__ == "__main__":
    main()

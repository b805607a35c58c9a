"""Gateway-path benchmark of flink_sql_toolkit_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (README.md has the why of
each and the metric map):

- ``interactive_batch``: a notebook session through the REST gateway.
- ``streaming_tail``: a continuous INSERT beside a polled streaming
  SELECT over a file source fed at a fixed rate.

The system under test runs in its own process, on data generated from
``--seed`` inside ``.perfbench_run/`` of the checkout, which is
deleted afterwards. Every answer is checked. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it records the
configuration measured and the workload's own named figures.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms"}
# the one engine knob the benchmark sets; any other SPARK_GRAFT_*
# variable would mean measuring something other than the defaults
PINNED_KNOB = "SPARK_GRAFT_CPUS"


STREAM = [f"stream.{m}_ms.{q}" for q in ("select", "insert")
          for m in ("trigger", "add_batch", "get_batch", "planning", "wal_commit")]
# every per-layer metric of the traced run; a workload that does not
# exercise a layer reports 0 for it (README.md has the map)
LAYER_UNITS = {
    "gateway.page_ms": "ms", "gateway.http_ms": "ms", "gateway.handler_ms": "ms",
    "gateway.reply_bytes_per_row": "bytes",
    "gateway.not_ready_ratio": "ratio", "engine.execute_ms": "ms", "engine.fetch_ms": "ms",
    "spark.to_local_iterator_ms": "ms", "dialect.rewrite_ms": "ms",
    "dialect.rewrite_calls_per_stmt": "count", "catalyst.sql_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "spark.jobs_per_stmt": "count", "spark.stages_per_stmt": "count",
    "spark.tasks_per_stmt": "count", "commands.meta_ms": "ms", "metadata.hit_ratio": "ratio",
    "connectors.build_reader_ms": "ms", "connectors.build_reader_calls": "count",
    "connectors.build_writer_ms": "ms", "buffer.batch_ms": "ms", "buffer.batches": "count",
    "buffer.visible_ratio": "ratio", "gen.lateness_p90_ms": "ms",
    **{name: "ms" for name in STREAM},
    "stream.processed_rows_per_s.insert": "1/s", "stream.ingest_rows_per_s.insert": "1/s",
    "trace.self_time_share": "ratio", "trace.self_time_share_min": "ratio",
    "trace.latency_p50_ms": "ms", "sut.peak_rss_mb": "MB",
}


def sut_env(root: str, run_dir: str, nproc: int) -> dict:
    """Environment of the system under test: the engine's defaults.

    ``SPARK_LOCAL_DIRS`` is dropped, since Spark lets it override the
    shuffle directory the engine picks (``session._default_local_dir``).
    The process's own temp files go into the run directory, and the JVM
    writes no perf-data file (``-XX:-UsePerfData``: no jstat counters
    under ``/tmp``). Neither of these touches a Spark setting."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.update({
        PINNED_KNOB: str(nproc),
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": " ".join(o for o in (env.get("JAVA_TOOL_OPTIONS"), java_opts) if o),
    })
    return env


def cpu_ticks() -> tuple[int, int]:
    """Host CPU ticks stolen by the hypervisor, and all ticks, so far."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the gateway and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "flink_sql_toolkit_spark", "gateway.py")):
        print("run from the root of a flink_sql_toolkit_spark checkout", file=sys.stderr)
        return 2
    knobs = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_") and k != PINNED_KNOB)
    if knobs:
        print(f"refusing to measure with tuning knobs set: {knobs}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    workloads = {"interactive_batch": "interactive", "streaming_tail": "streaming"}
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    import importlib

    workload = importlib.import_module(workloads[args.workload])

    from common import Context

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(root, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    env = sut_env(root, run_dir, nproc)
    ctx = Context(run_dir, args.seed, args.seconds, bool(args.trace), T_PROCESS, env)
    steal0, total0 = cpu_ticks()
    try:
        out = workload.run(ctx)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    steal1, total1 = cpu_ticks()
    if ctx.trace:
        units = LAYER_UNITS
        metrics = {k: out.per_layer.get(k, 0.0) for k in units}
    else:
        units, metrics = UNITS, out.end_to_end
    config = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "spark_graft_env": {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT_")},
        "java_tool_options": env["JAVA_TOOL_OPTIONS"],
        "error_rate": out.failed / max(out.attempted, 1),
        # share of the host's CPU time taken by other tenants during the
        # run: what makes whole runs slower on a shared machine
        "host_cpu_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        **ctx.detail, **out.detail,
    }
    print(json.dumps({"detail": config}, default=str))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

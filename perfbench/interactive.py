"""``interactive_batch``: one closed-loop notebook client replaying a
seed-ordered session of query statements and metadata requests
through the REST gateway, batch runtime mode, sf0.01."""

from __future__ import annotations

import json
import math
import random

import datagen
import statements
from client import POLL_S, Client, GatewayProcess
from common import (
    Context, Outcome, connector_layers, ddl, gateway_layers, mean, median, now, pct,
    same_answer, self_times, wire_rows,
)

SF = 0.01
# one round of the mix takes about this long warm on 4 cores; a run
# replays ceil(seconds / ROUND_S) whole rounds, so every run of one
# setting measures the same statements whatever the host's speed
ROUND_S = 10.0
TABLES = ["lineitem", "orders", "customer", "nation", "region", "supplier", "part", "events"]


def run_meta(client: Client, kind: str, table: str):
    """One metadata request; returns what its check needs."""
    if kind == "complete":
        return client.complete(f"SELECT * FROM {table[:3]}")
    sql = {"show_tables": "SHOW TABLES", "describe": f"DESCRIBE {table}",
           "show_create": f"SHOW CREATE TABLE {table}"}[kind]
    return client.run(sql).rows


def check_meta(kind: str, table: str, got, schemas: dict) -> bool:
    if kind == "complete":
        return table in got
    if kind == "show_tables":
        return set(TABLES) <= {r[0] for r in got}
    if kind == "describe":
        return [r[0] for r in got] == schemas[table]
    return len(got) == 1 and "CREATE TABLE" in str(got[0][0]) and table in str(got[0][0])


def run(ctx: Context) -> Outcome:
    gw = GatewayProcess(ctx.env, ctx.run_dir, ctx.trace, ctx.path("gateway.log"))
    try:
        return _run(ctx, gw)
    finally:
        gw.stop()


def _run(ctx: Context, gw: GatewayProcess) -> Outcome:
    import duckdb
    import pyarrow.parquet as pq

    data = ctx.path("data")
    datagen.write(data, SF, ctx.seed)
    schemas = {t: pq.read_schema(f"{data}/{t}.parquet").names for t in TABLES}
    rng = random.Random(ctx.seed)
    ctx.detail["spark_conf"] = gw.wait_ready()
    phases = {"gateway_ready_s": now() - ctx.t_process}
    client = Client(gw.url)
    client.open_session("interactive_batch")
    phases["session_open_s"] = now() - ctx.t_process
    client.run("SET 'execution.runtime-mode' = 'batch'")
    for t in TABLES:
        client.run(ddl(t, f"{data}/{t}.parquet"))
    phases["ddl_s"] = now() - ctx.t_process
    for op in statements.warmup_ops(TABLES):
        if op[0] == "query":
            client.run(op[2])
        else:
            run_meta(client, op[1], op[2])

    t_start = now()
    setup_s = t_start - ctx.t_process
    done_q, done_m, failures = [], [], []
    attempted = 0
    rounds = max(1, math.ceil(ctx.seconds / ROUND_S))
    for _ in range(rounds):
        for op in statements.session_round(rng, TABLES):
            attempted += 1
            t0 = now()
            try:
                if op[0] == "query":
                    done_q.append((op, client.run(op[2])))
                else:
                    done_m.append((op, run_meta(client, op[1], op[2]), (now() - t0) * 1000))
            except Exception as e:  # noqa: BLE001 — a failed operation is counted, the loop goes on
                failures.append((op[:2], str(e)[:300]))
    elapsed = now() - t_start
    rss = gw.peak_rss_mb()
    trace = None
    if ctx.trace:
        gw.command(f"snapshot {ctx.path('trace.json')}")
        with open(ctx.path("trace.json")) as fh:
            trace = json.load(fh)
    client.close_session()

    # expected answers, outside the timed window
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for op, res in done_q:
        cur = con.execute(op[3])
        cols = [d[0] for d in cur.description]
        if not same_answer(res.columns, res.rows, cols, wire_rows(cur.fetchall())):
            failures.append((op[:2], "answer differs from DuckDB"))
    for op, got, _ in done_m:
        if not check_meta(op[1], op[2], got, schemas):
            failures.append((op[:2], f"metadata answer wrong: {str(got)[:200]}"))
    con.close()

    walls = [r.wall_ms for _, r in done_q]
    by_template: dict[str, list] = {}
    for op, r in done_q:
        by_template.setdefault(op[1], []).append(r.wall_ms)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median(walls),
        "latency_p90_ms": pct(walls, 90),
    }
    detail = {
        "peak_rss_mb": rss,
        "stmt_p50_ms": e2e["latency_p50_ms"], "stmt_p90_ms": e2e["latency_p90_ms"],
        "stmts_per_s": len(done_q) / elapsed, "statements": len(done_q),
        "metadata_requests": len(done_m), "rounds": rounds, "scale_factor": SF,
        "measured_s": elapsed, "client_poll_interval_s": POLL_S,
        "setup_phases_s": phases, "failures": failures[:10],
        "stmt_ms_by_template": {k: median(v) for k, v in sorted(by_template.items())},
    }
    layers = layer_metrics(done_q, done_m, trace) if ctx.trace else {}
    layers["sut.peak_rss_mb"] = rss
    return Outcome(attempted, len(failures), e2e, layers, detail)


def layer_metrics(done_q, done_m, trace) -> dict:
    """Per-layer numbers of a traced run (see README.md)."""
    handles = {r.handle for _, r in done_q}
    stmts = [trace["statements"][h] for h in handles if h in trace["statements"]]
    # share of each statement's client-observed wall time that the
    # gateway's layers account for (self times of its spans)
    spans = sorted([(n, a, b) for _, n, a, b, _, _ in trace["spans"]], key=lambda s: s[1])
    shares = []
    for _, r in done_q:
        inside = [s for s in spans if s[2] > r.submit_t and s[1] < r.eos_t]
        st = self_times(inside, r.submit_t, r.eos_t)
        shares.append(sum(st.values()) / max(r.eos_t - r.submit_t, 1e-9))
    counts = trace["counts"]
    return {
        **gateway_layers(trace, [rq for _, r in done_q for rq in r.requests], handles),
        **connector_layers(trace),
        "catalyst.optimization_ms": mean(sum(s["optimization_ms"] for s in stmts), len(stmts)),
        "catalyst.planning_ms": mean(sum(s["planning_ms"] for s in stmts), len(stmts)),
        "spark.jobs_per_stmt": mean(sum(s["jobs"] for s in stmts), len(stmts)),
        "spark.stages_per_stmt": mean(sum(s["stages"] for s in stmts), len(stmts)),
        "spark.tasks_per_stmt": mean(sum(s["tasks"] for s in stmts), len(stmts)),
        "commands.meta_ms": median([ms for _, _, ms in done_m]),
        "metadata.hit_ratio": 1 - mean(counts.get("metadata.fetch", 0), counts.get("metadata.get", 0)),
        "trace.self_time_share": median(shares),
        "trace.self_time_share_min": min(shares) if shares else 0.0,
        "trace.latency_p50_ms": median([r.wall_ms for _, r in done_q]),
    }

"""``streaming_tail``: a continuous INSERT beside a polled streaming
SELECT, both over one filesystem parquet source that an open-loop
generator feeds at a fixed rate, default (streaming) runtime mode.

Set-up preloads the source with a backlog and runs a warm-up pass. The
timed part submits the INSERT and times it through the backlog, then
submits the SELECT; once the SELECT has run its first micro-batch the
generator lands ``FILES_PER_S`` small files a second for
``LEAD_IN_S`` plus ``--seconds``, each row stamped with its sequence
number, while the INSERT keeps writing. The client polls the SELECT
every ``STREAM_POLL_S``; a row's latency runs from the moment its file
landed in the source directory to the poll that first returns it.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from client import Client, GatewayProcess
from common import Context, Outcome, connector_layers, gateway_layers, mean, median, now, pct

BACKLOG_FILES = 50
BACKLOG_ROWS_PER_FILE = 20000
WARM_UP_FILES = 10
# 250 rows/s: a quarter of the 1000-row tail cap per 1 s trigger, so a
# micro-batch may run up to 4 s late before the client can lose rows
FILES_PER_S = 5
ROWS_PER_FILE = 50
# the notebook client polls streaming results every 1000 ms; 100 ms
# keeps the poll from adding up to a whole trigger interval of wait
STREAM_POLL_S = 0.1
INGEST_POLL_S = 0.05
# rows of the first seconds after the generator starts are checked but
# not timed: the SELECT's first micro-batches still run cold
LEAD_IN_S = 3
# a run whose generator lands files later than this (p90) fails: its
# latencies would carry the benchmark's own delay
LATENESS_MAX_MS = 50.0
DRAIN_TIMEOUT_S = 30.0
COLUMNS = "seq BIGINT, created DOUBLE, user_id BIGINT, v DOUBLE"


def write_file(path: str, seqs: np.ndarray, created, rng, land: bool = True) -> str:
    """One source file, written under a hidden name (names starting
    with '.' are skipped by the file source) and, with ``land``, renamed
    into place so the source never lists it half-written. Returns the
    hidden name."""
    table = pa.table({
        "seq": seqs.astype("int64"),
        "created": np.broadcast_to(np.asarray(created, dtype="float64"), len(seqs)),
        "user_id": rng.integers(0, 1000, len(seqs)).astype("int64"),
        "v": np.round(rng.uniform(0, 100, len(seqs)), 2),
    })
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    if land:
        os.rename(tmp, path)
    return tmp


class Generator(threading.Thread):
    """Open loop: one file of ``ROWS_PER_FILE`` rows lands every
    ``1 / FILES_PER_S`` s, whether or not the system kept up. A file is
    written ahead under a hidden name and renamed into place when due;
    the landing time of each file is recorded. The schedule is anchored
    to whole wall-clock seconds, as the 1 s processing-time triggers
    are, with files landing half an interval off the triggers, so no
    file races a trigger and the phase is the same in every run."""

    def __init__(self, src: str, first_seq: int, seconds: float, seed: int):
        super().__init__(daemon=True)
        self.src, self.seconds = src, seconds
        self.first_seq = self.next_seq = first_seq
        self.rng = np.random.default_rng(seed + 1)
        self.landed: list[float] = []  # wall time each file landed
        self.lateness: list[float] = []  # landing minus due time, s
        self.generated = 0
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            t0_wall = float(int(time.time()) + 1)
            t0 = now() + (t0_wall - time.time())
            for k in range(int(self.seconds * FILES_PER_S)):
                offset = (k + 0.5) / FILES_PER_S
                path = os.path.join(self.src, f"gen-{k:06d}.parquet")
                seqs = np.arange(self.next_seq, self.next_seq + ROWS_PER_FILE)
                tmp = write_file(path, seqs, t0_wall + offset, self.rng, land=False)
                delay = t0 + offset - now()
                if delay > 0:
                    time.sleep(delay)
                os.rename(tmp, path)
                self.landed.append(time.time())
                self.lateness.append(max(0.0, now() - (t0 + offset)))
                self.next_seq += ROWS_PER_FILE
                self.generated += ROWS_PER_FILE
        except Exception as e:  # noqa: BLE001 — surfaced by the workload as a failure
            self.error = e

    def landed_at(self, seq: int) -> float:
        return self.landed[(seq - self.first_seq) // ROWS_PER_FILE]


def committed_sink_rows(sink: str) -> list[int]:
    """Sequence numbers in the files the sink's commit log lists."""
    log = os.path.join(sink, "_spark_metadata")
    files: set[str] = set()
    if os.path.isdir(log):
        for name in os.listdir(log):
            if name.startswith("."):
                continue
            with open(os.path.join(log, name)) as fh:
                for line in fh.read().splitlines()[1:]:
                    files.add(json.loads(line)["path"].removeprefix("file:"))
    seqs: list[int] = []
    for f in files:
        seqs.extend(pq.read_table(f, columns=["seq"]).column("seq").to_pylist())
    return seqs


def wait_progress(client: Client, job: str, rows: int, timeout_s: float) -> None:
    """Poll a streaming job's detail until its batches report ``rows``
    input rows in total."""
    seen: dict[int, int] = {}
    t0 = now()
    while sum(seen.values()) < rows:
        if now() - t0 > timeout_s:
            raise TimeoutError(f"streaming job {job} did not process {rows} rows")
        time.sleep(INGEST_POLL_S)
        prog = client.job_detail(job).get("lastProgress")
        if prog:
            seen[prog["batchId"]] = prog["numInputRows"]


def warm_up(client: Client, ctx: Context, rng) -> None:
    """The set-up's fixed warm-up pass: one INSERT and one SELECT over a
    small source of their own, each through its first micro-batch, then
    cancelled."""
    wsrc = ctx.path("warm_src")
    os.makedirs(wsrc)
    for k in range(WARM_UP_FILES):
        seqs = np.arange(k * BACKLOG_ROWS_PER_FILE, (k + 1) * BACKLOG_ROWS_PER_FILE)
        write_file(os.path.join(wsrc, f"w-{k}.parquet"), seqs, time.time(), rng)
    for t, path in (("wsrc", wsrc), ("wsnk", ctx.path("warm_snk"))):
        client.run(f"CREATE TABLE {t} ({COLUMNS}) WITH ('connector'='filesystem', "
                   f"'path'='{path}', 'format'='parquet')")
    insert = client.run("INSERT INTO wsnk SELECT * FROM wsrc").rows[0][0]
    select = client.submit("SELECT seq, created FROM wsrc")
    wait_progress(client, insert, WARM_UP_FILES * BACKLOG_ROWS_PER_FILE, DRAIN_TIMEOUT_S)
    t0 = now()
    while not client.page(select, 0)[0]["results"]["data"]:
        if now() - t0 > DRAIN_TIMEOUT_S:
            raise TimeoutError("warm-up SELECT returned nothing")
        time.sleep(STREAM_POLL_S)
    select_job = client.page(select, 0)[0]["jobID"]
    for job in (insert, select_job):
        client.cancel_job(job)


def run(ctx: Context) -> Outcome:
    gw = GatewayProcess(ctx.env, ctx.run_dir, ctx.trace, ctx.path("gateway.log"))
    try:
        return _run(ctx, gw)
    finally:
        gw.stop()


def _run(ctx: Context, gw: GatewayProcess) -> Outcome:
    src, sink = ctx.path("src"), ctx.path("sink")
    os.makedirs(src)
    rng = np.random.default_rng(ctx.seed)
    backlog = BACKLOG_FILES * BACKLOG_ROWS_PER_FILE
    for k in range(BACKLOG_FILES):
        seqs = np.arange(k * BACKLOG_ROWS_PER_FILE, (k + 1) * BACKLOG_ROWS_PER_FILE)
        write_file(os.path.join(src, f"backlog-{k:06d}.parquet"), seqs, time.time(), rng)
    ctx.detail["spark_conf"] = gw.wait_ready()
    client = Client(gw.url)
    client.open_session("streaming_tail")
    client.run(f"CREATE TABLE src ({COLUMNS}) WITH ('connector'='filesystem', "
               f"'path'='{src}', 'format'='parquet')")
    warm_up(client, ctx, rng)

    failures: list[str] = []
    t_start = now()
    setup_s = t_start - ctx.t_process
    # ingest: INSERT submit -> the job's progress shows the backlog
    # processed, measured before the SELECT starts competing for cores
    client.run(f"CREATE TABLE snk ({COLUMNS}) WITH ('connector'='filesystem', "
               f"'path'='{sink}', 'format'='parquet')")
    t0 = now()
    insert_job = client.run("INSERT INTO snk SELECT seq, created, user_id, v FROM src").rows[0][0]
    wait_progress(client, insert_job, backlog, DRAIN_TIMEOUT_S)
    ingest_s = now() - t0

    # the SELECT's first micro-batch (the filtered backlog) before feeding
    select_op = client.submit(f"SELECT seq, created FROM src WHERE seq >= {backlog}")
    token, select_job = 0, None
    while True:
        page, _ = client.page(select_op, token)
        token = page["nextResultToken"]
        select_job = select_job or page.get("jobID")
        if select_job and client.job_detail(select_job).get("lastProgress"):
            break
        if now() - t_start > 2 * DRAIN_TIMEOUT_S:
            raise TimeoutError("streaming SELECT did not start")
        time.sleep(STREAM_POLL_S)

    gen = Generator(src, backlog, LEAD_IN_S + ctx.seconds, ctx.seed)
    t_gen = now()
    gen.start()
    seen: dict[int, float] = {}  # seq -> wall time the client first saw it
    duplicates = 0
    requests = []  # (token, t0, t1, reply bytes, rows, resultType), as in client.run
    while True:
        r0 = now()
        page, nbytes = client.page(select_op, token)
        t_seen = time.time()
        data = page["results"]["data"]
        requests.append((token, r0, now(), nbytes, len(data), page["resultType"]))
        token = page["nextResultToken"]
        for r in data:
            seq = r["fields"][0]
            if seq in seen:
                duplicates += 1
            else:
                seen[seq] = t_seen
        if not gen.is_alive():
            if len(seen) >= gen.generated:
                break
            if now() - t_gen > LEAD_IN_S + ctx.seconds + DRAIN_TIMEOUT_S:
                break
        time.sleep(STREAM_POLL_S)
    t_end = now()
    gen.join()
    rss = gw.peak_rss_mb()

    # the sink must hold every sequence number exactly once
    expected = backlog + gen.generated
    while True:
        sunk = committed_sink_rows(sink)
        if len(sunk) >= expected or now() - t_end > DRAIN_TIMEOUT_S:
            break
        time.sleep(0.5)
    gw.command(f"snapshot {ctx.path('trace.json')}")
    with open(ctx.path("trace.json")) as fh:
        trace = json.load(fh)
    for job in (insert_job, select_job):
        client.cancel_job(job)
    client.close_session()

    # one failure per lost or duplicated row, per job whose output is
    # wrong, and for a generator that failed or ran late
    failed = duplicates
    if duplicates:
        failures.append(f"{duplicates} rows reached the client twice")
    want = set(range(backlog, backlog + gen.generated))
    lost = len(want - set(seen))
    failed += lost
    if lost:
        failures.append(f"client saw {len(want) - lost} of {len(want)} generated rows")
    if len(sunk) != expected or set(sunk) != set(range(expected)):
        failed += 1
        failures.append(f"sink holds {len(sunk)} rows, {len(set(sunk))} distinct, "
                        f"of {expected} expected")
    if gen.error is not None:
        failed += 1
        failures.append(f"generator failed: {gen.error}")
    lateness_p90_ms = pct(gen.lateness, 90) * 1000
    if lateness_p90_ms > LATENESS_MAX_MS:
        failed += 1
        failures.append(f"generator landed files {lateness_p90_ms:.0f} ms late (p90)")

    timed_from = backlog + LEAD_IN_S * FILES_PER_S * ROWS_PER_FILE
    visible = [(t - gen.landed_at(q)) * 1000 for q, t in seen.items()
               if q >= timed_from and q in want]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median(visible),
        "latency_p90_ms": pct(visible, 90),
    }
    detail = {
        "peak_rss_mb": rss,
        "visible_p50_ms": e2e["latency_p50_ms"], "visible_p90_ms": e2e["latency_p90_ms"],
        "ingest_rows_per_s": backlog / ingest_s, "backlog_rows": backlog,
        "ingest_s": ingest_s,
        "generated_rows": gen.generated, "generator_rows_per_s": FILES_PER_S * ROWS_PER_FILE,
        "generator_files_per_s": FILES_PER_S, "gen_lateness_p90_ms": lateness_p90_ms,
        "client_poll_interval_s": STREAM_POLL_S,
        "measured_s": t_end - t_start, "failures": failures,
    }
    # every generated row the client must see, plus the INSERT and the SELECT
    attempted = gen.generated + 2
    jobs = {select_job: "select", insert_job: "insert"}
    layers = layer_metrics(trace, gen, seen, visible, requests, select_op, jobs) if ctx.trace else {}
    layers["sut.peak_rss_mb"] = rss
    layers["stream.ingest_rows_per_s.insert"] = backlog / ingest_s
    return Outcome(attempted, min(failed, attempted), e2e, layers, detail)


def layer_metrics(trace: dict, gen: Generator, seen: dict, visible: list, requests: list,
                  select_op: str, jobs: dict) -> dict:
    """Per-layer numbers of a traced run; ``jobs`` maps the timed
    SELECT's and the running INSERT's job ids to "select"/"insert"."""
    batch = [t1 - t0 for _, name, t0, t1, _, _ in trace["spans"] if name == "buffer.batch"]
    out = {
        **gateway_layers(trace, requests, {select_op}),
        **connector_layers(trace),
        "trace.latency_p50_ms": median(visible),
        "buffer.batch_ms": mean(sum(batch) * 1000, len(batch)),
        "buffer.batches": len(batch),
        "buffer.visible_ratio": mean(len(seen), gen.generated),
        "gen.lateness_p90_ms": pct(gen.lateness, 90) * 1000,
    }
    keys = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
            "get_batch_ms": "getBatch", "planning_ms": "queryPlanning",
            "wal_commit_ms": "walCommit"}
    for stream in trace["streams"]:
        kind = jobs.get(stream["job"])
        if kind is None:  # the warm-up pass's jobs
            continue
        progress = [p for p in stream["progress"] if p.get("numInputRows", 0) > 0]
        for metric, key in keys.items():
            vals = [p["durationMs"].get(key, 0) for p in progress]
            out[f"stream.{metric}.{kind}"] = mean(sum(vals), len(vals))
        if kind == "insert":
            rates = [p.get("processedRowsPerSecond", 0.0) for p in progress]
            out["stream.processed_rows_per_s.insert"] = mean(sum(rates), len(rates))
    return out

"""Notebook-style REST client of the gateway, plus the process that
runs it.

One keep-alive HTTP connection per client. A statement is submitted,
polled past ``NOT_READY`` every ``POLL_S`` and paged to ``EOS`` by
following ``nextResultToken`` — the readiness-poll contract the
gateway serves to notebook clients.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
# client poll interval while a statement answers NOT_READY. The notebook
# client polls every 500 ms (SURVEY.md, "Cell -> statements"); polling
# faster keeps a statement's latency from being rounded up to the next
# poll (README.md, "Client poll intervals")
POLL_S = 0.02
REQUEST_TIMEOUT_S = 120.0


class GatewayError(Exception):
    pass


@dataclass
class StatementResult:
    handle: str
    columns: list[str]
    rows: list[list]
    submit_t: float
    eos_t: float = 0.0
    # (token, t0, t1, reply bytes, rows, resultType) per result request
    requests: list = field(default_factory=list)

    @property
    def wall_ms(self) -> float:
        return (self.eos_t - self.submit_t) * 1000.0


class Client:
    def __init__(self, url: str):
        host, port = url.removeprefix("http://").split(":")
        self.conn = http.client.HTTPConnection(host, int(port), timeout=REQUEST_TIMEOUT_S)
        self.session: str | None = None

    def request(self, method: str, path: str, body: dict | None = None) -> tuple[dict, int]:
        data = json.dumps(body).encode() if body is not None else None
        self.conn.request(method, path, body=data, headers={"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        raw = resp.read()
        out = json.loads(raw) if raw else {}
        if resp.status != 200:
            raise GatewayError(f"{method} {path} -> {resp.status}: "
                               f"{(out.get('errors') or [''])[0][:500]}")
        return out, len(raw)

    def open_session(self, name: str) -> str:
        self.session = self.request("POST", "/sessions", {"sessionName": name})[0]["sessionHandle"]
        return self.session

    def close_session(self) -> None:
        if self.session:
            self.request("DELETE", f"/sessions/{self.session}")
            self.session = None

    def submit(self, statement: str) -> str:
        return self.request("POST", f"/sessions/{self.session}/statements",
                            {"statement": statement})[0]["operationHandle"]

    def page(self, op: str, token: int) -> tuple[dict, int]:
        return self.request("GET", f"/sessions/{self.session}/operations/{op}/result/{token}")

    def complete(self, statement: str) -> list[str]:
        return self.request("POST", f"/sessions/{self.session}/complete-statement",
                            {"statement": statement, "position": len(statement)})[0]["candidates"]

    def job_detail(self, job_id: str) -> dict:
        return self.request("GET", f"/jobs/{job_id}")[0]

    def cancel_job(self, job_id: str) -> None:
        self.request("PATCH", f"/jobs/{job_id}?mode=cancel")

    def run(self, statement: str) -> StatementResult:
        """Submit, poll past NOT_READY, drain every page to EOS."""
        t0 = time.monotonic()
        op = self.submit(statement)
        res = StatementResult(op, [], [], t0)
        token = 0
        while True:
            r0 = time.monotonic()
            page, nbytes = self.page(op, token)
            r1 = time.monotonic()
            kind = page["resultType"]
            if kind == "NOT_READY":
                res.requests.append((token, r0, r1, nbytes, 0, kind))
                time.sleep(POLL_S)
                continue
            data = page["results"]["data"]
            res.requests.append((token, r0, r1, nbytes, len(data), kind))
            if not res.columns:
                res.columns = [c["name"] for c in page["results"]["columns"]]
            res.rows.extend(r["fields"] for r in data)
            if kind == "EOS":
                res.eos_t = r1
                return res
            token = page["nextResultToken"]


def vm_hwm_mb(pid: int) -> float:
    """Peak RSS (VmHWM) of ``pid`` and its direct children, in MB."""
    pids = [pid]
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                pids += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def group_members(pgid: int) -> list[int]:
    """Live (not zombie) processes of process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(name))
    return out


class GatewayProcess:
    """The system under test in its own process (gateway_launcher.py)."""

    def __init__(self, env: dict, cwd: str, trace: bool, log_path: str):
        cmd = [sys.executable, os.path.join(HERE, "gateway_launcher.py")]
        if trace:
            cmd.append("--trace")
        self._log = open(log_path, "w")
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, env=env, cwd=cwd, start_new_session=True)
        self.log_path = log_path
        self.url = ""
        self.scratch: list[str] = []

    def wait_ready(self) -> dict:
        """Block until the gateway serves; its effective Spark conf."""
        line = self.proc.stdout.readline()
        if not line.startswith("READY "):
            raise GatewayError(f"gateway did not start (see {self.log_path})")
        _, self.url, ready = line.split(" ", 2)
        ready = json.loads(ready)
        self.scratch = ready["scratch"]
        return ready["conf"]

    def command(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        if self.proc.stdout.readline().strip() != "OK":
            raise GatewayError(f"gateway command failed: {cmd}")

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.proc.pid)

    def stop(self) -> None:
        """Stop the gateway, wait until every process of its group (the
        JVM and Python workers too) has ended, then delete the scratch
        directories its Spark left under the engine's local dir."""
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("exit\n")
                self.proc.stdin.flush()
                self.proc.stdin.close()
                self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired, ValueError):
            pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while group_members(self.proc.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        for d in self.scratch:
            shutil.rmtree(d, ignore_errors=True)
        self._log.close()

"""The benchmark's own tests: tiny runs of each workload through the
real CLI entry point, checking the emitted metrics against
BENCHMARK.json, that a wrong expected answer is counted, and that the
traced run's layer self-times cover the client-observed wall time.

    python3 -m pytest perfbench/tests -q

Each test starts a gateway process (about 15-40 s each).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import interactive  # noqa: E402
import run  # noqa: E402
import statements  # noqa: E402
import streaming  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.fixture
def tiny(monkeypatch):
    """sf0.001 tables, a two-file backlog, and the repo root as cwd."""
    monkeypatch.chdir(ROOT)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        monkeypatch.delenv(k)
    monkeypatch.setattr(interactive, "SF", 0.001)
    monkeypatch.setattr(streaming, "BACKLOG_FILES", 2)


def bench(capsys, workload: str, trace: int, seconds: float = 0.1) -> dict:
    code = run.main(["--workload", workload, "--seed", "7", "--seconds", str(seconds),
                     "--trace", str(trace)])
    assert code == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    return out


def expect(out: dict, section: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_is_emitted(tiny, capsys, workload):
    out = bench(capsys, workload, trace=0, seconds=1)
    assert out["correct"] and out["failed"] == 0
    expect(out, "end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_emits_layers_and_accounts_for_wall_time(tiny, capsys):
    out = bench(capsys, "interactive_batch", trace=1)
    assert out["correct"]
    expect(out, "per_layer")
    m = {k: v["value"] for k, v in out["metrics"].items()}
    # the gateway's layers account for every statement's
    # client-observed wall time, to within a tenth
    assert m["trace.self_time_share_min"] >= 0.9
    assert m["engine.execute_ms"] > 0 and m["catalyst.sql_ms"] > 0
    assert m["spark.jobs_per_stmt"] > 0


def test_traced_streaming_run_emits_layers(tiny, capsys):
    out = bench(capsys, "streaming_tail", trace=1, seconds=1)
    assert out["correct"]
    expect(out, "per_layer")
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["buffer.visible_ratio"] == 1.0
    assert m["gen.lateness_p90_ms"] <= streaming.LATENESS_MAX_MS
    assert m["buffer.batches"] > 0 and m["stream.trigger_ms.insert"] > 0


def test_wrong_expected_answer_counts_as_failure(tiny, capsys, monkeypatch):
    q1 = statements.QUERIES["q1"]

    def corrupted(rng):
        flink, duck = q1(rng)
        return flink, duck.replace("COUNT(*) AS count_order", "COUNT(*) + 1 AS count_order")

    monkeypatch.setitem(statements.QUERIES, "q1", corrupted)
    out = bench(capsys, "interactive_batch", trace=0)
    assert not out["correct"]
    assert out["failed"] >= 1


def test_tuning_knob_refused(monkeypatch, capsys):
    monkeypatch.chdir(ROOT)
    monkeypatch.setenv("SPARK_GRAFT_HOT_CACHE_BUDGET", "0")
    code = run.main(["--workload", "interactive_batch", "--seed", "1", "--seconds", "1"])
    assert code != 0
    assert capsys.readouterr().out == ""

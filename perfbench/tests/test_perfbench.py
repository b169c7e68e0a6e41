"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke runs start one Spark per (workload, trace) pair on tiny inputs
(``--scale 0.05``, one measured second), so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as runner  # noqa: E402
from perfbench.harness import tail  # noqa: E402
from perfbench.workloads import END_TO_END, PER_LAYER  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_benchmark_json_names_what_the_code_emits():
    assert [w["name"] for w in BENCH["workloads"]] == list(runner.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == PER_LAYER
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_tail_is_nearest_rank_p90():
    assert tail([1.0, 2.0, 3.0, 4.0]) == (4.0, 90, 4, 0)
    xs = [float(i) for i in range(1, 15)]
    assert tail(xs) == (13.0, 90, 14, 1)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        BENCH["command"] + ["--workload", "batch_algos", "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(runner.WORKLOADS))
def test_smoke_emits_every_metric(workload, trace):
    proc = subprocess.run(
        BENCH["command"] + ["--workload", workload, "--seed", "1",
                            "--seconds", "1", "--trace", str(trace),
                            "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = _last_json(proc.stdout)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    names = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in names}
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_corrupted_output_raises_error_rate():
    """A wrong answer, planted here in the collected output and not in the
    program, must count every call of that query as failed."""
    def corrupt(name, pdf):
        if name == "ahp_score_lineitem":
            pdf = pdf.copy()
            pdf.loc[0, "ahp_score"] += 1.0
        return pdf

    env = dict(os.environ)
    try:
        result, detail = runner.run("batch_algos", 1, 1.0, False,
                                    scale=0.05, tamper=corrupt)
    finally:
        os.environ.clear()
        os.environ.update(env)
    assert result["correct"] is False
    assert detail["gate"]["ahp_score_lineitem"] != "ok"
    assert detail["gate"]["topsis_score_part"] == "ok"
    calls = result["attempted"] // len(detail["query_p50_s"])
    assert detail["failed_by_query"] == {"ahp_score_lineitem": calls}
    assert result["failed"] == calls >= 1
    assert detail["error_rate"] == pytest.approx(calls / result["attempted"])


def test_corrupted_stream_sinks_fail_each_call_once():
    """Wrong answers in both stream sinks, planted here in the collected
    output, fail every replay call of the run, and each call only once."""
    def corrupt(name, pdf):
        col = {"online_ahp": "win_score", "online_topsis_apply": "score"}[name]
        pdf = pdf.copy()
        pdf.loc[pdf.index[0], col] = 1e6      # no score is ever this high
        return pdf

    env = dict(os.environ)
    try:
        result, detail = runner.run("stream_replay", 1, 1.0, False,
                                    scale=0.05, tamper=corrupt)
    finally:
        os.environ.clear()
        os.environ.update(env)
    assert result["correct"] is False
    assert detail["gate"]["online_ahp"] != "ok"
    assert detail["gate"]["online_topsis_apply"] != "ok"
    assert result["attempted"] >= 1
    assert result["failed"] == result["attempted"]
    assert detail["failed_by_query"] == {"stream_replay": result["attempted"]}
    assert detail["error_rate"] == 1.0

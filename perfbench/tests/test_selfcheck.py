"""Benchmark self-check: tiny-scale runs of every workload.

    python -m pytest perfbench/tests -q     (from the checkout root)

Each workload runs twice with the same seed, untraced and traced, with
``--seconds 0``, so the timed loop stops at the workload's minimum op
count. The untraced run must print every end-to-end metric of
BENCHMARK.json with its unit, the traced one every per-layer metric,
and both must issue the same op sequence (count and kinds).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED = 7
sys.path.insert(0, ROOT)

from perfbench import analyst_queries, market_etl  # noqa: E402

MIN_OPS = {"market_etl": market_etl.MIN_OPS, "analyst_queries": analyst_queries.MIN_OPS}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, *SPEC["command"][1:], "--workload", workload,
        "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
        "--scale", "tiny",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.fixture(scope="module")
def runs():
    return {w: (_run(w, 0), _run(w, 1)) for w in WORKLOADS}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(runs, workload):
    _, result = runs[workload][0]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(runs, workload):
    detail, result = runs[workload][1]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert detail["self_time_s"], "traced run reports self time per span"


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_issues_same_op_sequence(runs, workload):
    (d0, r0), (d1, r1) = runs[workload]
    assert d0["op_kinds"] == d1["op_kinds"]
    assert len(d0["op_kinds"]) == MIN_OPS[workload]
    assert r0["attempted"] == r1["attempted"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_outputs_are_correct(runs, workload):
    for detail, result in runs[workload]:
        assert result["correct"], detail["failures"]
        unexplained = [f for f in detail["failures"] if not f.startswith("known defect")]
        assert not unexplained


@pytest.mark.xfail(
    strict=True,
    reason="known defect: parse_kafka_records uses ANSI to_timestamp, so one "
    "unparseable crawl timestamp fails the whole stream_ingest batch "
    "(CAST_INVALID_INPUT); a fix makes this pass",
)
def test_bad_crawl_timestamp_does_not_fail_ingest(runs):
    detail, result = runs["market_etl"][0]
    assert detail["known_defect"]["bad_timestamp_ingest"].startswith("passes")
    assert result["failed"] == 0

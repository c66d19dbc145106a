"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The unit tests are quick. The two ``slow`` tests (``-m slow``) start the
benchmark itself (about five minutes on four vCPUs): every metric
name in ``BENCHMARK.json`` must match what the command prints, and the
traced run's per-call Spark job counts must repeat exactly from one run
to the next.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from digest import digest  # noqa: E402
from run import END_TO_END, per_layer_units  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_digest_agrees_where_the_driver_check_agrees():
    a = digest(["b", "a"], [(1.0, "x"), (None, "y"), (decimal.Decimal("2.50"), "z")])
    b = digest(["a", "b"], [("z", 2.5), ("x", 1), ("y", None)])
    assert a == b and a["rows"] == 3
    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    assert digest(["t"], [(ts,)]) == digest(["t"], [(ts.replace(tzinfo=None),)])
    assert digest(["v"], [(-0.0,)]) == digest(["v"], [(0,)])
    assert digest(["v"], [(1.0000004,)]) == digest(["v"], [(1.0,)])
    assert digest(["v"], [(1.5,)]) != digest(["v"], [(1.6,)])
    assert digest(["v"], [([1, 2],)]) == digest(["v"], [((1.0, 2.0),)])


def test_self_time_and_driver_time():
    spans = [
        {"id": 0, "parent": None, "call": "c", "layer": "queries", "name": "q", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "call": "c", "layer": "io", "name": "i", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "call": "c", "layer": "io", "name": "j", "start": 2.0, "end": 3.0},
    ]
    assert tracing._self_times(spans) == {0: 7.0, 1: 2.0, 2: 1.0}
    assert tracing._covered([(1, 3), (2, 5), (7, 8), (9, 20)], 0, 10) == 6


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == per_layer_units()


@pytest.mark.slow
def test_printed_metrics_match_benchmark_json():
    _, plain = _run("relational", 3, 0)
    assert plain["correct"] and plain["failed"] == 0
    assert {k: v["unit"] for k, v in plain["metrics"].items()} == END_TO_END
    _, traced = _run("relational", 4, 1)
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == per_layer_units()


@pytest.mark.slow
def test_per_call_job_counts_repeat_across_runs():
    first, _ = _run("operators", 5, 1)
    second, _ = _run("operators", 6, 1)
    for report in (first, second):
        assert report["trace"]["call_jobs_repeat"]
        assert report["trace"]["unattributed_jobs"] == 0
    assert first["trace"]["call_jobs"] == second["trace"]["call_jobs"]

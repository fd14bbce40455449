"""Self-test of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The parser and checker tests are instant; the two end-to-end tests run
``run.py --workload all`` on a tiny corpus (under a minute each) and
check that the summary line parses and names every metric that
``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import E2E_UNITS, LAYER_UNITS, WORKLOADS, check  # noqa: E402
from perfbench.status import parse_metric  # noqa: E402


@pytest.mark.parametrize(
    "text,value",
    [
        ("2,000", 2000),
        ("8.4 MiB", 8.4 * (1 << 20)),
        ("606 ms", 0.606),
        ("1.5 s", 1.5),
        ("933.7 KiB", 933.7 * 1024),
        ("total (min, med, max (stageId: taskId))\n10.0 MiB (1.0 MiB, 2.5 MiB, 4.0 MiB (stage 3.0: task 7))", 10 * (1 << 20)),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_check_counts_missing_duplicate_and_wrong_rows():
    expected = {"a": ["ta", "sa"], "b": ["tb", "sb"], "c": ["tc", "sc"]}
    assert check([("a", "ta", "sa"), ("b", "tb", "sb"), ("c", "tc", "sc")], expected, True) == 0
    # b wrong spans, c missing, a duplicated
    rows = [("a", "ta", "sa"), ("a", "ta", "sa"), ("b", "tb", "xx")]
    assert check(rows, expected, True) == 3
    assert check(rows, expected, False) == 2


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_declared_metrics_match_runner():
    b = _declared()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == LAYER_UNITS


@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_summary_names_every_metric(trace):
    b = _declared()
    p = subprocess.run(
        b["command"] + ["--workload", "all", "--seed", "7", "--seconds", "1",
                        "--trace", str(trace), "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    last = p.stdout.strip().splitlines()[-1]
    summary = json.loads(last)
    assert set(summary) == {"correct", "attempted", "failed", "metrics"}
    assert summary["correct"] is True and summary["failed"] == 0
    declared = b["per_layer"] if trace else b["end_to_end"]
    want = {f"{w}.{m['name']}": m["unit"] for w in WORKLOADS for m in declared}
    assert {k: v["unit"] for k, v in summary["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in summary["metrics"].values())
    # compact: no whitespace. The end-to-end line stays under 1500
    # characters; the traced line carries 37 named metrics, each as
    # {"value", "unit"}, whose names and wrapping alone take ~1.9k per workload
    assert last == json.dumps(summary, separators=(",", ":"))
    if not trace:
        assert len(last) < 1500

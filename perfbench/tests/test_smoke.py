"""Smoke checks of the benchmark harness on tiny inputs.

Each workload runs every op once with every output check, through the
same command the benchmark uses. Run with ``python3 -m pytest perfbench/tests -q``
from the repository root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from perfbench.probe import _total_size, covered  # noqa: E402
from perfbench.run import E2E_UNITS, tail  # noqa: E402


def _run(*args: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--smoke", *args]
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["region_lookup", "llm_pipeline"])
def test_smoke_traced(workload):
    r = _run("--workload", workload, "--trace", "1")
    assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0
    m = r["metrics"]
    assert m["spark.jobs"]["value"] > 0
    assert m["sources.rows_out"]["value"] > 0
    if workload == "llm_pipeline":
        assert m["operators.action_s"]["value"] > 0
    else:
        assert m["sinks.bytes_written_mb"]["value"] > 0
        assert m["session.sql_s"]["value"] > 0
    traces = os.path.join(REPO, "perfbench", ".cache", "traces", f"{workload}-seed1.json")
    with open(traces) as fh:
        spans = json.load(fh)["spans"]
    assert {"op", "setup"} <= {s["name"] for s in spans}


def test_smoke_end_to_end():
    r = _run("--workload", "region_lookup", "--trace", "0")
    assert r["correct"]
    assert set(r["metrics"]) == set(E2E_UNITS)
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_tail_is_nearest_rank_p90():
    assert tail(list(range(1, 31))) == 27
    assert tail([3.0, 1.0, 2.0]) == 3.0
    # 12 lookups of two passes: the faster of the two slowest
    assert tail([1.0] * 10 + [3.5, 3.4]) == 3.4


def test_covered_merges_overlaps():
    assert covered([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (None, 9.0)]) == 4.0


def test_total_size_reads_the_total_line():
    assert _total_size("total (min, med, max (stageId: taskId))\n1.5 MiB (0.1 MiB, ...)") == 1.5 * (1 << 20)
    assert _total_size("812.0 B") == 812.0

"""The benchmark's own test: the traced run's exact counts repeat, and the
spans account for each operation's wall time.

Slow (three full runs of one workload). Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q -s

It also prints the tracing overhead: the traced pass's wall minus the
untraced pass's wall, for the same seed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7

#: counts that must repeat exactly between two traced runs of one seed
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "plans.build_jobs",
         "artifacts.builds", "streaming.tasks_per_day")


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=200)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", ["llm-loops", "etl"])
def test_traced_counts_repeat_and_spans_cover_wall(workload):
    first = run(workload, 1)
    second = run(workload, 1)
    for name in EXACT:
        assert first[name] == second[name], (name, first[name], second[name])
    assert first["spark.jobs"] > 0 and first["spark.tasks"] >= first["spark.stages"]

    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{workload}-seed{SEED}-spans.json")) as fh:
        spans = json.load(fh)["spans"]
    for top in (s for s in spans if s["parent"] is None):
        kids = [s for s in spans if s["parent"] == top["sid"]]
        wall = top["end"] - top["start"]
        if top["name"] == "query" or top["op"] == "read":
            assert [k["name"] for k in kids] == ["build", "plan", "exec"], top
        covered = sum(k["end"] - k["start"] for k in kids)
        if kids:
            # children run back to back inside their parent; what is left
            # is span bookkeeping and the output check, never more
            assert covered <= wall + 1e-3, top
            assert wall - covered < max(0.05, 0.02 * wall), (top, wall, covered)

    untraced = run(workload, 0)
    print(f"\n{workload}: tracing overhead {second['trace.suite_s'] - untraced['suite_s']:+.3f} s "
          f"(traced pass {second['trace.suite_s']:.3f} s, untraced {untraced['suite_s']:.3f} s)")

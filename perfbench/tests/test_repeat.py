"""Two traced runs of one seed give identical scheduler counts per
operation and an identical kept ratio, which equals the planted truth.
Each run starts a JVM: about two minutes per workload."""

import json
import os
import subprocess
import sys

import pytest

import gen

REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
REPEATED = ("spark.jobs_per_op", "spark.stages_per_op",
            "spark.tasks_per_op", "admission.kept_ratio")


def _traced(workload: str, seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "4", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["analytics", "doc_admission"])
def test_seeded_runs_repeat_their_counts(workload):
    a, b = _traced(workload, 21), _traced(workload, 21)
    for r in (a, b):
        assert r["correct"] and r["failed"] == 0
    for name in REPEATED:
        assert a["metrics"][name] == b["metrics"][name], name
    assert a["metrics"]["spark.jobs_per_op"]["value"] > 0
    if workload == "doc_admission":
        per = gen.DOCS_PER_DROP
        assert a["metrics"]["admission.kept_ratio"]["value"] == (
            per - int(per * gen.DUP_SHARE)) / per

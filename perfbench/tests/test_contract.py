"""BENCHMARK.json agrees with what run.py prints, and the benchmark
refuses to run without the program next to it."""

import json
import os
import shutil
import subprocess
import sys

import run

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def test_metric_names_match_benchmark_json():
    with open(SPEC) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == [
        u[0] for u in run.END_TO_END.values()]
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert [m["unit"] for m in spec["per_layer"]] == [
        run._layer_unit(n) for n in run.PER_LAYER]
    assert {w["name"] for w in spec["workloads"]} <= set(run._COLUMN)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(SPEC, tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout == ""

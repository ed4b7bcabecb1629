"""A short pass of every workload, traced and untraced, in one Spark
session; and the command's refusal to run without the package."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from gapbench.run import measure, start_spark, stop_spark
from gapbench.workloads import SPECS

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = start_spark(tmp_path_factory.mktemp("spark"))
    yield s
    stop_spark(s)


@pytest.mark.parametrize("name", list(SPECS))
def test_workload_smoke(spark, tmp_path, name):
    for trace, listed in ((False, "end_to_end"), (True, "per_layer")):
        b, metrics = measure(spark, SPECS[name], 1, 0, trace, tmp_path)
        assert b.failed == 0, b.errors
        assert b.attempted >= 2
        assert {m["name"]: m["unit"] for m in BENCH[listed]} \
            == {k: v["unit"] for k, v in metrics.items()}
        if trace:
            assert metrics["replay.mismatch_px"]["value"] == 0
        else:
            assert all(v["value"] > 0 for v in metrics.values())


def test_fails_without_the_package(tmp_path):
    shutil.copytree(ROOT / "gapbench", tmp_path / "gapbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, *BENCH["command"][1:], "--workload", "knn_ladder",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

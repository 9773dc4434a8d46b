"""The benchmark's own tests: tiny-size runs of every workload.

    python3 -m pytest extbench/test_extbench.py -q

Each run boots Spark, so the module takes several minutes; it shares the
work dir with the benchmark and must not overlap a benchmark run.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# Each side is one job of a few seconds on a tiny table, whose time moves
# by up to a tenth from job to job.  The check catches a ladder that
# misses or double-counts a large step of the job, such as the Arrow
# transfer (about half of a tiny job), not a small rung.
LADDER_TOLERANCE = 0.15


def run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "extbench/run.py", "--seconds", "1", "--tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def assert_metrics(res: dict, spec: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    res = result(run("--workload", workload, "--seed", "7", "--trace", "0"))
    assert_metrics(res, SPEC["end_to_end"])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric_and_ladder_adds_up(workload):
    res = result(run("--workload", workload, "--seed", "7", "--trace", "1"))
    assert_metrics(res, SPEC["per_layer"])
    assert res["correct"] and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    import layers

    # the rungs and the metrics step are timed apart from the full job
    selves = sum(m[k] for k in layers.RUNGS) + m["plans.pipeline.metrics_s"]
    job = m["plans.pipeline.run_extraction_job_s"]
    assert abs(selves - job) <= LADDER_TOLERANCE * job


def test_corrupted_committed_row_counts_as_failed():
    res = result(
        run("--workload", "crawl_batch", "--seed", "7", "--trace", "0", "--corrupt-row")
    )
    assert res["failed"] >= 1 and not res["correct"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "extbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = run("--workload", WORKLOADS[0], "--seed", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0 and p.stdout.strip() == ""

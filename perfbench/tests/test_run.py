"""End-to-end runs of the benchmark command (slow: several Spark sessions)."""

import json
import os
import shutil
import subprocess
import sys

from conftest import ROOT

COUNT_METRICS = (
    "sources.scan_bytes",
    "pipeline.media_tasks",
    "pipeline.arrow_bytes_to_py",
    "pipeline.arrow_bytes_from_py",
    "checkpoint.jobs_per_wave",
    "forward.calls_per_span",
    "imageops.resize_calls_per_span",
    "geometry.convex_hull_calls_per_span",
    "contours.components_per_span",
)


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


def test_count_metrics_repeat_across_traced_runs():
    outs = []
    for _ in range(2):
        p = _run(ROOT, "--workload", "mixed_512", "--seed", "3", "--seconds", "1", "--trace", "1")
        assert p.returncode == 0, p.stderr[-2000:]
        outs.append(json.loads(p.stdout.strip().splitlines()[-1]))
    a, b = (o["metrics"] for o in outs)
    assert all(o["correct"] for o in outs)
    assert {k: a[k]["value"] for k in COUNT_METRICS} == {k: b[k]["value"] for k in COUNT_METRICS}
    assert abs(a["batched_detect.coverage"]["value"] - 1.0) <= 0.10


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "mixed_512", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

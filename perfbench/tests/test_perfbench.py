"""Benchmark self-test: every named metric is emitted, the output checks
pass, and per-layer job and stage counts repeat exactly at one seed.

Run from the repository root (each traced run starts its own Spark
driver; the module takes a few minutes):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SEED = 5
PAGES = 300


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def _traced(workload: str) -> tuple[dict, dict]:
    proc = _run(ROOT, "--workload", workload, "--seed", str(SEED),
                "--seconds", "1", "--trace", "1", "--pages", str(PAGES))
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    saved = json.loads((ROOT / ".perfbench" / "results" /
                        f"{workload}-seed{SEED}-trace1.json").read_text())
    return result, saved


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_metrics_emitted_checks_pass_counts_repeat(workload):
    runs = [_traced(workload) for _ in range(2)]
    layer_names = {m["name"] for m in SPEC["per_layer"]}
    for result, saved in runs:
        assert result["correct"] and result["failed"] == 0
        assert result["attempted"] > 0
        assert set(result["metrics"]) == layer_names
        assert set(saved["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
        assert all(v > 0 for v in saved["end_to_end"].values())
        # fingerprints of the untraced and traced crawls were compared
        assert saved["context"]["fingerprint_checks"] == {"attempted": 3,
                                                          "failed": 0}
    counts = [{n: r["metrics"][n]["value"] for n in layer_names
               if n.endswith((".jobs", ".stages", "_per_wave"))}
              for r, _ in runs]
    assert counts[0] == counts[1]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = _run(tmp_path, "--workload", "fresh_crawl", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout == ""

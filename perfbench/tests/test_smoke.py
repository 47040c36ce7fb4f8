"""Tiny-scale runs of every workload: each prints every metric it
promises, with its unit, and passes its own answer checks.

Each run starts a Spark session, so the module takes a few minutes:

    python3 -m pytest perfbench/tests/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import spans  # noqa: E402

#: per-workload names of the report, with their units
REPORTED = {
    "dashboard": {"setup_s": "s", "read_p50_s": "s", "read_p90_s": "s", "read_qps": "1/s",
                  "store_bytes_per_sample": "B", "error_ratio": "ratio", "peak_rss_mb": "MB"},
    "ingest_alerting": {"setup_s": "s", "read_p50_s": "s", "read_p90_s": "s",
                        "write_p50_s": "s", "write_p90_s": "s", "ingest_samples_per_s": "1/s",
                        "error_ratio": "ratio", "peak_rss_mb": "MB"},
    "curation": {"setup_s": "s", "curate_job_p50_s": "s", "curate_docs_per_s": "1/s",
                 "error_ratio": "ratio", "peak_rss_mb": "MB"},
}


def _run(workload: str, trace: int) -> tuple[str, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return "\n".join(lines[:-1]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(REPORTED))
def test_smoke_run_prints_every_metric(workload, trace):
    report, result = _run(workload, trace)
    assert result["correct"] is True, report
    assert result["failed"] == 0 and result["attempted"] >= 1
    for name, unit in REPORTED[workload].items():
        m = re.search(rf"^\s+{re.escape(name)}\s+(\S+)\s+(\S+)\s+n=(\d+)$", report, re.M)
        assert m, f"{name} missing from the report:\n{report}"
        assert m.group(2) == unit
        if name == "error_ratio":
            assert float(m.group(1)) == 0.0
    promised = spans.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(promised)
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
    if trace:
        assert "coverage of the traced operations' wall" in report
        assert "tracing overhead" in report


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == spans.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_refuses_to_run_outside_a_checkout():
    empty = os.path.join(ROOT, ".perfbench_work", "empty")
    os.makedirs(empty, exist_ok=True)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=empty, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""

"""Smoke tests of the benchmark itself, at tiny sizes. From the repository
root (each case starts its own Spark driver, ~20 s each):

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("mor_ingest_read", "corpus_refresh")
CHECKS = {
    "mor_ingest_read": {"lake_state", "cross_mode", "read_changes", "read_key"},
    "corpus_refresh": {"corpus_clusters", "corpus_retained"},
}


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    r = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--size", "tiny", *extra],
        capture_output=True, text=True, cwd=cwd, timeout=600,
    )
    return r.returncode, r.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def _report(lines: list[str]) -> dict:
    tag = "perfbench report: "
    return json.loads(next(x for x in lines if x.startswith(tag))[len(tag):])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_checks_pass(workload):
    code, lines = _run(workload, "--trace", "0")
    assert code == 0, lines
    out = _result(lines)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    report = _report(lines)
    assert report["checks"] == {c: True for c in CHECKS[workload]}
    assert all(v["value"] is not None for v in report["named"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_metric(workload):
    code, lines = _run(workload, "--trace", "1")
    assert code == 0, lines
    out = _result(lines)
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    span_file = os.path.join(ROOT, _report(lines)["span_file"])
    with open(span_file) as f:
        spans = json.load(f)["spans"]
    assert any(s["name"].startswith("op.") for s in spans)
    assert any(s["jobs"] for s in spans)
    assert out["metrics"]["spark.jobs"]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_check_fails_on_a_perturbed_oracle(workload):
    for check in sorted(CHECKS[workload]):
        code, lines = _run(workload, "--perturb", check)
        assert code == 1, (check, lines)
        out = _result(lines)
        assert out["correct"] is False and out["failed"] >= 1, check
        checks = _report(lines)["checks"]
        assert checks[check] is False, check
        assert all(ok for name, ok in checks.items() if name != check), check


def test_exits_nonzero_without_the_engine():
    bare = os.path.join(ROOT, ".perfbench_work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, lines = _run("corpus_refresh", cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert code != 0 and lines == []

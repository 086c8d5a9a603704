"""Tests of the benchmark itself, at tiny input sizes.

    python -m pytest perfbench/tests -q

Each test starts its own Spark session (local[nproc]); run them on their
own, not beside the engine's test suite.
"""

import contextlib
import io
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args,
                        "--scale", "tiny"], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return [json.loads(line) for line in p.stdout.strip().splitlines()]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_end_to_end_metric(workload):
    lines = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", "0")
    result = lines[-1]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert all(v["value"] > 0 for v in result["metrics"].values())
    timings = {line["timing"] for line in lines if "timing" in line}
    assert "iter_s" in timings and "job_mbps" in timings


def test_traced_run_prints_every_per_layer_metric():
    lines = bench("--workload", "pages_read", "--seed", "3", "--seconds",
                  "1", "--trace", "1")
    result = lines[-1]
    assert result["correct"], lines
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    # the read set prunes: bloom and zone maps keep a minority of blocks
    assert result["metrics"]["decode.blocks_read_frac"]["value"] < 1.0


def test_wrong_read_answer_counts_as_failed(monkeypatch):
    real = workloads.read_queries

    def one_wrong(source, seed):
        queries = real(source, seed)
        queries[0].expected = queries[0].expected.slice(0, 0)
        return queries

    monkeypatch.setattr(workloads, "read_queries", one_wrong)
    for var in ("PYTHONPATH", "SPARK_LOCAL_DIRS", "TMPDIR"):
        # run.main sets these for its Spark workers; restore them after
        if var in os.environ:
            monkeypatch.setenv(var, os.environ[var])
        else:
            monkeypatch.delenv(var, raising=False)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run.main(["--workload", "pages_read", "--seed", "3",
                         "--seconds", "1", "--trace", "0",
                         "--scale", "tiny"]) == 0
    # main() has waited for the JVM and every worker it forked
    assert run.descendants() == []
    lines = [json.loads(line) for line in out.getvalue().strip().splitlines()]
    result = lines[-1]
    assert not result["correct"]
    assert 0 < result["failed"] < result["attempted"]
    frac = next(line["ops_failed_frac"] for line in lines
                if "ops_failed_frac" in line)
    assert frac == result["failed"] / result["attempted"]

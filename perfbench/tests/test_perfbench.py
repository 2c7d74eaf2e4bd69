"""The benchmark's own tests. Each starts Spark in a subprocess at the tiny
fixture size; together they take a few minutes:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(workload: str, seed: int, trace: int, code: str | None = None) -> tuple[int, dict, dict]:
    """Run one tiny benchmark run; ``code`` runs in the benchmark process
    before ``run.main`` (to break an output on purpose)."""
    argv = ["--workload", workload, "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace), "--size", "tiny"]
    prog = ("import sys; sys.path[:0] = [%r, %r]; import run\n%s\nsys.exit(run.main(%r))"
            % (HERE, ROOT, code or "", argv))
    out = subprocess.run([sys.executable, "-c", prog], cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    return out.returncode, json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_emits_every_declared_metric(workload, trace):
    _, _, result = run_bench(workload, seed=3, trace=trace)
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1


def test_same_seed_repeats_fixtures_and_counts():
    (_, r1, m1), (_, r2, m2) = (run_bench("bulk_backfill", seed=5, trace=1) for _ in range(2))
    assert r1["fixture_sha256"] == r2["fixture_sha256"]
    assert r1["fixtures"] == r2["fixtures"] and r1["rows"] == r2["rows"]
    counts = [n for n in m1["metrics"] if n.endswith(".jobs") or n == "writers.files_written"]
    assert {n: m1["metrics"][n]["value"] for n in counts} == {n: m2["metrics"][n]["value"] for n in counts}


BREAK_FACT_TABLE = """
import glob, os
from reciping_data_pipeline_spark.pipeline import runner
_build = runner.bulk_backfill
def broken(spark, staging, warehouse, *args, **kwargs):
    report = _build(spark, staging, warehouse, *args, **kwargs)
    os.remove(sorted(glob.glob(os.path.join(warehouse, "fact_user_events", "*", "*.parquet")))[0])
    return report
runner.bulk_backfill = broken
"""


def test_broken_output_counts_in_error_rate():
    _, report, result = run_bench("bulk_backfill", seed=3, trace=0, code=BREAK_FACT_TABLE)
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert report["error_rate"] == result["failed"] / result["attempted"] > 0
    assert any("written tables" in f for f in report["failures"])

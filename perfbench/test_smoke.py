"""Smoke test for the benchmark at tiny scale (about three minutes on four cores):

    python3 -m pytest perfbench/test_smoke.py -q

* every untraced workload and the traced run emit every metric that
  BENCHMARK.json names for their mode, and every output check passes;
* the same seed stages identical inputs (row count and content hash) and a
  different seed stages different ones.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    CONTRACT = json.load(_f)


def _run(workload: str, trace: int, seed: int = 1) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in CONTRACT["workloads"]])
def test_untraced_workload(workload):
    report, result = _run(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {m["name"] for m in CONTRACT["end_to_end"]} <= set(result["metrics"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert report["checks"] and all(report["checks"].values())


def test_traced_run():
    report, result = _run(CONTRACT["workloads"][0]["name"], trace=1)
    assert {m["name"] for m in CONTRACT["per_layer"]} <= set(result["metrics"])
    assert result["correct"] and result["failed"] == 0
    assert len(report["checks"]) >= 9 and all(report["checks"].values())


def test_inputs_follow_the_seed():
    from curate import Curate
    from harness import CORES, RunDirs, spark_conf, stop_spark
    from increment import Increment
    from ship import Ship

    dirs = RunDirs("smoke")
    from logshipper_spark.session import get_spark

    spark = get_spark(app_name="perfbench-smoke", cores=CORES, shuffle_partitions=CORES,
                      extra_conf=spark_conf(dirs, traced=False))
    try:
        for cls in (Ship, Curate, Increment):
            a, b, c = (cls(spark, dirs, seed, "tiny").stage() for seed in (7, 7, 8))
            assert a["rows"] > 0
            assert (a["rows"], a["hash"]) == (b["rows"], b["hash"]), cls.name
            assert a["hash"] != c["hash"], cls.name
    finally:
        stop_spark(spark)
        dirs.remove()

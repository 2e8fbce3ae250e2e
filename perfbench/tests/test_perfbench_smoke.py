"""Smoke test of the benchmark at a tiny fixture scale (0.001).

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each workload runs one short pass through the command-line entry point;
the result line must carry every end-to-end metric of BENCHMARK.json with
its unit, with every op passing its check. A planted wrong oracle digest
must lower ``ok_op_frac`` instead of being retried or ignored.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    *_, env_line, result_line = proc.stdout.strip().splitlines()
    return json.loads(env_line)["perfbench_env"], json.loads(result_line)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_is_printed(workload):
    env, result = _run(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, env["failures"]
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["ok_op_frac"]["value"] == 1.0
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert env["master"] == "local[2]" and env["seed"] == 7


def test_traced_run_prints_every_per_layer_metric():
    env, result = _run("catalog", trace=1)
    assert result["correct"] is True, env["failures"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["session.jobs"]["value"] > 0
    assert result["metrics"]["pipelines.refresh_join_chain_view_n"]["value"] >= 1


PLANTED = """
import json, sys
sys.path[:0] = [{bench_dir!r}, {root!r}]
import run

def plant_wrong_digest(workload):
    workload.expected[{victim!r}] = "0:" + "0" * 64

args = run.parse_args(["--workload", "analytics", "--seed", "7", "--seconds", "1",
                       "--scale", "0.001"])
print(json.dumps(run.run(args, tamper=plant_wrong_digest)))
"""


def test_wrong_expected_digest_lowers_ok_op_frac():
    # in a process of its own: a run stops its Spark session and kills
    # every process it started
    victim = "pricing_summary"
    env = {**os.environ, "PYTHONPATH": ROOT, "PYTHONHASHSEED": "0"}
    proc = subprocess.run(
        [sys.executable, "-c", PLANTED.format(bench_dir=BENCH_DIR, root=ROOT, victim=victim)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300, check=True)
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    result = out["result"]
    frac = result["metrics"]["ok_op_frac"]["value"]
    assert result["correct"] is False
    # the two warm-up passes and the measured pass each fail that one check
    assert result["failed"] == 3
    assert frac == pytest.approx((result["attempted"] - 3) / result["attempted"])
    assert {f["name"] for f in out["env"]["failures"]} == {f"queries.{victim}"}

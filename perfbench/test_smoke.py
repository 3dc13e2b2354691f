"""Toy-size smoke test of the benchmark's own code.

Runs every workload on the 600-turn toy corpus, untraced and traced,
and checks the result contract: the last stdout line is the JSON object
with exactly the metrics ``BENCHMARK.json`` lists for the mode, each
with its unit; every named metric line prints with its unit; and
every output check passed. Also checks that the benchmark refuses to run
without the package. Run from the checkout root::

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)

NAMED = {
    "backfill": {("backfill", "setup_s", "s"),
                 ("backfill", "turns_per_s", "turns/s"),
                 ("backfill", "extract_turns_per_s", "turns/s")},
    "live_cdc_rag": {("live_cdc", "setup_s", "s"),
                     ("live_cdc", "merge_s_p50", "s"),
                     ("live_cdc", "refresh_s_p50", "s"),
                     ("live_cdc", "lookup_s_p50", "s"),
                     ("live_cdc", "compact_s_p50", "s"),
                     ("rag_query", "setup_s", "s"),
                     ("rag_query", "query_s_p50", "s")},
}


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_toy_run_meets_the_result_contract(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, p.stderr[-4000:]
    assert res["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float))
               for v in res["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    printed = {tuple(line.split()[1:3]) + (line.split()[4],)
               for line in lines if line.startswith("metric ")}
    assert NAMED[workload] <= printed


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert not p.stdout.strip()

#!/usr/bin/env python3
"""Harness smoke test: one gate per workload, untraced and traced.

Runs ``run.py --workload all`` on one gate of each workload, once with
``--trace 0`` and once with ``--trace 1``, and asserts that every metric
BENCHMARK.json names is emitted with its unit, that no gate failed or
mismatched its oracle, and the layer shape the workloads are chosen for:
streams only in ``streaming``, no Python-boundary rows in the TPC-H gate.

Run: python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GATES = "q1_pricing_summary,semantic_dedup_auto,streaming_dedup_events"


def _run_all(trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
         "--gates", GATES, "--seconds", "1", "--seed", "7", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True, timeout=900,
    )
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_every_metric_emitted() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = {w["name"] for w in spec["workloads"]}
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        results = _run_all(trace)
        assert set(results) == workloads, results.keys()
        for w, r in results.items():
            assert r["attempted"] >= 1 and r["failed"] == 0 and r["correct"] is True, (w, r)
            assert set(r["metrics"]) == {m["name"] for m in spec[key]}, (w, r["metrics"].keys())
            for m in spec[key]:
                got = r["metrics"][m["name"]]
                assert got["unit"] == m["unit"], (w, m["name"], got)
                assert isinstance(got["value"], (int, float)), (w, m["name"], got)
                if trace == 0:
                    assert got["value"] > 0, (w, m["name"], got)
        if trace == 1:
            layer = {w: {k: v["value"] for k, v in r["metrics"].items()} for w, r in results.items()}
            assert layer["streaming"]["streaming.triggers"] > 0
            assert layer["tables"]["streaming.triggers"] == 0
            assert layer["curation"]["streaming.triggers"] == 0
            assert layer["tables"]["operators.python_rows"] == 0
            assert layer["curation"]["operators.python_rows"] > 0


if __name__ == "__main__":
    check_every_metric_emitted()
    print("smoke ok")

"""Smoke test of the benchmark itself, at tiny inputs.

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py

Runs ``run.py`` on both gated workloads with ``--trace 1`` (and
``ingest_corr`` once more with ``--trace 0``) at gen_tokens scale 0.05 and
sf 0.001, and checks that

* every metric named in BENCHMARK.json appears with its unit;
* ``parse.rows_out`` equals the input rows, which equal the sum of the
  per-sink rows;
* ``runner.unattributed_s`` >= 0, and the layer ``wall_s`` values plus
  ``runner.unattributed_s`` sum to ``trace.total_s``.

The pipeline runs are not required to pass their checks: at scale 0.05
the generator gives each injected cause stream 5 events, too few for the
Fisher-z test to find about half of the 12 injected pairs (the benchmark's
scale 20 finds all 12).  The driver-query run must pass its oracle checks.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seed", "7", "--seconds", "1", "--scale", "0.05", "--sf", "0.001"]


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--trace", str(trace), *TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    info_line, result_line = out.stdout.strip().splitlines()[-2:]
    return json.loads(info_line)["perfbench_info"], json.loads(result_line)


def spec(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def check_metrics(result: dict, kind: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == spec(kind), set(got.items()) ^ set(spec(kind).items())
    assert 0 <= result["failed"] <= result["attempted"] and result["attempted"] >= 1, result


def check_layers(result: dict) -> None:
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["runner.unattributed_s"] >= 0, m["runner.unattributed_s"]
    layers = sum(v for k, v in m.items() if k.endswith(".wall_s"))
    assert math.isclose(layers + m["runner.unattributed_s"], m["trace.total_s"], rel_tol=1e-9)


def test_pipeline_trace():
    info, result = bench("ingest_corr", 1)
    check_metrics(result, "per_layer")
    check_layers(result)
    rows = result["metrics"]["parse.rows_out"]["value"]
    assert rows == info["input_rows"] == info["sink_rows"], (rows, info)
    assert info["traced_dag_edges_digest"] == info["dag_edges_digest"]


def test_pipeline_end_to_end():
    _, result = bench("ingest_corr", 0)
    check_metrics(result, "end_to_end")


def test_queries_trace():
    _, result = bench("driver_queries", 1)
    check_metrics(result, "per_layer")
    check_layers(result)
    assert result["correct"], result


if __name__ == "__main__":
    for t in (test_pipeline_trace, test_pipeline_end_to_end, test_queries_trace):
        t()
        print(f"ok {t.__name__}")

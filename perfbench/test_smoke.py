"""Smoke test of the benchmark harness at tiny size (sf0.001, 3 cities x
1 year, a night or two per loop). Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own benchmark process, as the benchmark is run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import ROOT, WORKLOADS  # noqa: E402

sys.path.insert(0, ROOT)

from workloads import END_TO_END, layer_units  # noqa: E402


def bench(workload: str, *extra: str) -> tuple[dict[str, tuple[float, str]], dict, list[str]]:
    """Run the benchmark; returns ({metric: (value, unit)} from the text
    lines, the final JSON object, the failed-check messages)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    printed = {}
    for line in lines[:-1]:
        if not line.startswith("#"):
            name, value, unit = line.split()
            printed[name] = (float(value), unit)
    checks = [ln for ln in proc.stderr.splitlines() if ln.startswith("CHECK FAILED")]
    return printed, json.loads(lines[-1]), checks


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_prints_with_its_unit(workload):
    printed, result, checks = bench(workload, "--trace", "0")
    assert result["correct"] is True, checks
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(END_TO_END)
    for name, unit in END_TO_END.items():
        assert printed[name][1] == unit
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0, name
    assert result["metrics"]["ok_frac"]["value"] == 1.0


@pytest.mark.parametrize("workload", ["nightly_etl", "star_olap"])
def test_traced_run_and_corrupted_result(workload):
    """A traced run prints every per-layer metric, and one dropped row in
    one checked result makes the run incorrect and fails an operation."""
    printed, result, _ = bench(workload, "--trace", "1", "--fault", "drop-row")
    units = layer_units(workload)
    assert set(result["metrics"]) == set(units)
    for name, unit in units.items():
        assert printed[name][1] == unit
    assert result["correct"] is False
    assert result["failed"] >= 1
    store = {k: v["value"] for k, v in result["metrics"].items()
             if k.startswith("sources.table_store.")}
    if workload == "nightly_etl":
        assert store["sources.table_store.merge_calls"] >= 2
        assert store["sources.table_store.bytes_written"] > 0
        assert result["metrics"]["sources.http_api.fetch_failures"]["value"] == 3
        assert result["metrics"]["spark.jobs"]["value"] > 0
    else:
        assert not any(store.values())
        assert result["metrics"]["plans.q1_pricing_summary.s"]["value"] > 0


def test_raising_query_fails_the_run():
    """A query that raises fails the cold-pass check and every timed
    operation of that query, and makes the run incorrect."""
    _, result, checks = bench("star_olap", "--trace", "0", "--fault", "raise")
    assert result["correct"] is False
    assert result["failed"] >= 2
    assert any("raised RuntimeError: injected fault" in c for c in checks)
    assert result["metrics"]["ok_frac"]["value"] < 1.0

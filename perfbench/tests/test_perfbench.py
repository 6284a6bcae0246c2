"""Tests of the benchmark itself: result shape and names against
BENCHMARK.json, output checks that catch a wrong value, and the exit
code outside a full checkout.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

ALL = ("ndvi", "mndwi", "evi", "ndwi")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_tables_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)


def _grid_output(n_images: bool = False):
    """A correct smoothed output for a small seeded grid, and its
    expectation."""
    cells, ndvi = inputs.grid_expected(side=8, seed=3, drop_permille=100)
    values = {int(c): inputs.derived(float(v)) for c, v in zip(cells, ndvi)}
    expected = checks.oracle_expect(values, cells, "gaussian_k2", ALL)
    out = pd.DataFrame({"cell": cells, **{f"smoothed_{v}": [expected[int(c)][v] for c in cells] for v in ALL}})
    counts = None
    if n_images:
        out["n_images"] = [1 + int(c) % 5 for c in cells]
        counts = dict(zip(cells.tolist(), out["n_images"].tolist()))
    return cells, expected, out, counts


def test_check_accepts_correct_output():
    cells, expected, out, counts = _grid_output(n_images=True)
    assert checks.check_smoothed(out, cells, expected, ALL, counts) == []


@pytest.mark.parametrize("column", ["smoothed_ndvi", "smoothed_ndwi"])
def test_check_rejects_perturbed_value(column):
    cells, expected, out, _ = _grid_output()
    out.loc[7, column] += 1e-6
    errors = checks.check_smoothed(out, cells, expected, ALL)
    assert len(errors) == 1 and column in errors[0]


def test_check_rejects_wrong_count_and_missing_cell():
    cells, expected, out, counts = _grid_output(n_images=True)
    out.loc[3, "n_images"] += 1
    errors = checks.check_smoothed(out, cells, expected, ALL, counts)
    assert any("n_images differs" in e for e in errors)
    assert any("sums to" in e for e in errors)
    _, _, out, _ = _grid_output()
    errors = checks.check_smoothed(out.drop(index=5), cells, expected, ALL)
    assert any("cell set differs" in e for e in errors)


def test_grid_expectation_is_seeded():
    a, va = inputs.grid_expected(40, seed=1, drop_permille=100)
    b, vb = inputs.grid_expected(40, seed=1, drop_permille=100)
    c, _ = inputs.grid_expected(40, seed=2, drop_permille=100)
    assert (a == b).all() and (va == vb).all()
    assert len(a) < 40 * 40 and not (len(a) == len(c) and (a == c).all())


def test_exits_nonzero_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".work", "__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "smooth_grid", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_reports_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float) and math.isfinite(m["value"]), name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())

"""Self-tests of the benchmark: deterministic inputs, metric and workload
names that match BENCHMARK.json, and a tiny-scale run of every workload
in both modes.

    python3 -m pytest perfbench -q      # from the repository root
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from layers import PER_LAYER_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# tiny inputs: a smoke run, not a measurement
TINY = {
    "curation": {"n_stays": 80, "n_xml_files": 2, "n_events": 3000},
    "query_mix": {"scale": 0.1},
}


@pytest.fixture(scope="module")
def work():
    """One scratch directory for every run in this module: the runs share
    one JVM, which keeps the scratch paths it was launched with."""
    path = os.path.join(ROOT, ".perfbench_work", "selftest")
    run._pin_environment(ROOT, path)
    yield path
    run._stop_gateway()
    shutil.rmtree(path, ignore_errors=True)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_and_units_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS
    assert spec["paths"] == ["perfbench"]
    assert spec["command"] == ["python3", "perfbench/run.py"]


@pytest.mark.parametrize("make", [
    lambda rng, d: gen.curation_inputs(rng, d, 50, 2, 2000),
    lambda rng, d: gen.registry_tables(rng, d, 0.05),
])
def test_same_seed_same_inputs(tmp_path, make):
    a, b = tmp_path / "a", tmp_path / "b"
    ea = make(np.random.default_rng(7), str(a))
    eb = make(np.random.default_rng(7), str(b))
    assert ea == eb
    cmp = filecmp.dircmp(a, b)
    stack = [cmp]
    while stack:
        c = stack.pop()
        assert not c.left_only and not c.right_only
        _, mismatch, errors = filecmp.cmpfiles(c.left, c.right, c.common_files, shallow=False)
        assert not mismatch and not errors
        stack.extend(c.subdirs.values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [False, True])
def test_tiny_run_is_correct_and_reports_every_metric(work, workload, trace):
    res = run.run_once(workload, seed=3, seconds=1, trace=trace, root=ROOT, work=work,
                       **TINY[workload])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert list(res["metrics"]) == names
    for m in res["metrics"].values():
        assert isinstance(m["value"], float | int) and m["unit"]
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())

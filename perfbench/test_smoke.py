"""Smoke test of the benchmark itself, at the tiny size (2k features,
analytics scale 0.01, i.e. sf0.001).

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced; the test asserts the
result format and that every metric BENCHMARK.json names is emitted.
The corruption tests feed deliberately wrong results through the same
check-and-count path the runs use and assert they are counted as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

import inputs  # noqa: E402
import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_emits_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "3", "--trace", str(trace), "--size", "tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, p.stderr[-3000:]
    assert out["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]


def test_metric_tables_match_spec():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.E2E)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.tracing.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


# -- corrupted results are counted as failed ----------------------------------


class FakeClient:
    """Answers reads from the model, optionally with one property altered."""

    def __init__(self, model: inputs.LandUseModel, corrupt: bool):
        self.model, self.corrupt = model, corrupt

    def get_collection(self, collection, query):
        from xcube_geodb_spark.geometry.geom import parse_wkb

        rid = int(query.split(".")[-1])
        rows = self.model.df[self.model.df.id == rid]
        frame = inputs.to_insert(rows)
        res = pd.DataFrame({
            "id": rows.id.to_numpy(),
            "geometry": [parse_wkb(b) for b in frame.geometry],
            "raba_pid": rows.raba_pid.to_numpy(),
            "raba_id": rows.raba_id.to_numpy() + (1.0 if self.corrupt else 0.0),
            "d_od": frame.d_od.to_numpy(),
        })
        return res


@pytest.mark.parametrize("corrupt", [False, True])
def test_corrupted_read_is_counted_failed(corrupt, tmp_path):
    model = inputs.LandUseModel()
    model.insert(inputs.make_features(np.random.default_rng(0), 50))
    planner = inputs.OpPlanner(0, 50, [51])
    r = run.Run(argparse.Namespace(seed=0), str(tmp_path))
    r.serving_op(FakeClient(model, corrupt), planner, model, "get_id", "timed")
    assert r.fail.attempted == 1
    assert r.fail.failed == (1 if corrupt else 0)


def test_corrupted_analytics_result_is_counted_failed(tmp_path):
    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    bad = good.copy()
    bad.loc[1, "v"] = 1.25
    r = run.Run(argparse.Namespace(seed=0), str(tmp_path))
    r.fail.check("q", run.suite_result_ok(good.iloc[::-1], good))
    r.fail.check("q", run.suite_result_ok(bad, good))
    assert (r.fail.attempted, r.fail.failed) == (2, 1)

"""Checks of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

The smoke tests run every workload on the sf0.001 inputs with
``--seconds 0``, untraced and traced, and require every metric
``BENCHMARK.json`` names to be printed with no operator failing (about
two minutes).
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_workloads_match_spec():
    assert sorted(run.WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])


def test_seed_shuffles_pass_orders():
    ops = run.WORKLOADS["relational_sf0.1"][1]
    a, b, c = (run.pass_orders(ops, seed) for seed in (1, 1, 2))
    orders = [next(a) for _ in range(50)]
    assert orders == [next(b) for _ in range(50)]
    assert orders[:5] != [next(c) for _ in range(5)]
    assert len({tuple(o) for o in orders}) > 40
    for order in orders:
        assert sorted(order) == sorted(ops)


def test_traced_wrapper_records_nested_spans_and_pickles_as_original():
    rec = spans.Recorder()
    inner = spans.Traced(rec, "inner", os.path.basename)
    outer = spans.Traced(rec, "outer", lambda p: inner(p))
    assert outer("a/b") == "b" and rec.spans == []  # disabled: no spans
    rec.enabled = True
    outer("a/b")
    inner("a/c")
    assert [(s["layer"], s["parent"]) for s in rec.spans] == [("outer", None), ("inner", 0), ("inner", None)]
    assert {k: v[0] for k, v in rec.layer_totals().items()} == {"outer": 1, "inner": 2}
    assert pickle.loads(pickle.dumps(inner)) is os.path.basename
    assert 0 < spans.wrapper_cost_s(calls=1000, repeats=2) < 1e-3


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "0", "--seconds", "0", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    for name in names:
        assert f"{workload} {name} = " in proc.stdout
    assert result["failed"] == 0 and result["correct"], proc.stderr[-4000:]

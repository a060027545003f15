"""The anchor-normalized 2× baseline gate (round-12 verdict order 2).

The r01 raw-wall gate could not mechanically separate "slower host"
from "slower code" (r12: driver 2.33× vs same-HEAD seal 1.67×). These
tests pin the re-based gate's machinery:

- ``tools/baseline_gate.evaluate`` cancels host speed by construction
  and refuses anchor-less recordings (the exact defect being closed);
- the committed ``BASELINE_SUBSET.json`` carries all 11 subset walls,
  both anchors, and an internally-consistent normalized value;
- ``bench.gate_fields`` embeds that verdict in the bench sidecar.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(relpath, name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, relpath)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


gate = _load("tools/baseline_gate.py", "baseline_gate")
bench = _load("bench.py", "bench_module")

BASE = {"normalized": 10.0}


def _rec(per_query: float, cal):
    rec = {"queries": {n: per_query for n in bench.R01_SUBSET}}
    if cal is not None:
        rec["host_calibration_sec"] = cal
    return rec


def test_gate_cancels_host_speed():
    """A 2× slower host moves walls AND anchor together: the ratio is
    unchanged — the r12 adjudication problem closed mechanically."""
    fast = gate.evaluate(_rec(1.0, 1.1), BASE)
    slow = gate.evaluate(_rec(2.0, 2.2), BASE)
    assert fast["evaluable"] and slow["evaluable"]
    assert fast["ratio"] == slow["ratio"] == 1.0
    assert fast["within_gate"] and slow["within_gate"]


def test_gate_flags_code_regression():
    """Same host anchor, 3× the subset wall → ratio 3.0, breach."""
    v = gate.evaluate(_rec(3.0, 1.1), BASE)
    assert v["evaluable"] and v["ratio"] == 3.0 and not v["within_gate"]


def test_gate_refuses_anchorless_recordings():
    """A recording without host_calibration_sec (the driver's stdout
    bench-result wrap) is NOT evaluable — anchor-less adjudication is the
    defect this gate replaces, so it must never silently pass."""
    v = gate.evaluate({"parsed": _rec(1.0, None)}, BASE)
    assert not v["evaluable"] and not v.get("within_gate", False)
    missing = gate.evaluate(
        {"queries": {"q01_pricing_summary": 1.0},
         "host_calibration_sec": 1.0},
        BASE,
    )
    assert not missing["evaluable"]


def test_committed_baseline_subset_is_anchored_and_consistent():
    path = os.path.join(REPO, "BASELINE_SUBSET.json")
    if not os.path.exists(path):
        pytest.skip("BASELINE_SUBSET.json not yet recorded this round")
    base = json.load(open(path))
    assert set(bench.R01_SUBSET) <= set(base["queries"]), "subset drift"
    assert len(bench.R01_SUBSET) == 11  # frozen membership
    cal = base["host_calibration_sec"]
    assert isinstance(cal, (int, float)) and cal > 0
    assert isinstance(base["host_calibration_shuffle_sec"], (int, float))
    wall = round(sum(base["queries"][n] for n in bench.R01_SUBSET), 3)
    assert base["subset_wall_sec"] == wall
    assert base["normalized"] == round(wall / cal, 2)
    # the re-base recording evaluates against itself at exactly 1.0
    self_v = gate.evaluate(base, base)
    assert self_v["evaluable"] and self_v["ratio"] == 1.0
    assert self_v["within_gate"]


def test_sidecar_gate_fields_self_adjudicate():
    """bench.gate_fields embeds the computed gate verdict in every
    sf0.1 sidecar once BASELINE_SUBSET.json exists — recording and
    adjudication travel together. Uses the committed baseline."""
    if not os.path.exists(os.path.join(REPO, "BASELINE_SUBSET.json")):
        pytest.skip("BASELINE_SUBSET.json not yet recorded this round")
    base = json.load(open(os.path.join(REPO, "BASELINE_SUBSET.json")))
    fields = bench.gate_fields(dict(base["queries"]),
                               base["host_calibration_sec"])
    g = fields["baseline_gate"]
    assert g["ratio"] == 1.0 and g["within_gate"]
    assert g["base_normalized"] == base["normalized"]
    # not evaluable (missing walls) → no fields, never a crash
    assert bench.gate_fields({"q01_pricing_summary": 1.0}, 1.0) == {}

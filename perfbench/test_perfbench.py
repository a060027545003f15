"""The benchmark's own tests: seeded generation and its expected
accounting, the tail rule, span self time, and the metric-name
contract with BENCHMARK.json. No Spark session is started.

Run: python -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest

from perfbench import gen, measure
from perfbench.twin import DLQ, DROP, VALID, make_twin

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ generator

def test_ingest_messages_are_a_function_of_the_seed():
    a, fa = gen.ingest_messages(7, 0, 5_000)
    b, fb = gen.ingest_messages(7, 0, 5_000)
    c, _ = gen.ingest_messages(8, 0, 5_000)
    assert a.equals(b) and np.array_equal(fa, fb)
    assert not a.equals(c)


def test_backlog_is_a_function_of_the_seed(tmp_path):
    f1 = gen.lay_backlog(str(tmp_path / "a"), 3, 2, 1_000, 4)
    f2 = gen.lay_backlog(str(tmp_path / "b"), 3, 2, 1_000, 4)
    assert np.array_equal(f1, f2) and len(f1) == 2_000
    files = sorted(os.listdir(tmp_path / "a"))
    assert files == sorted(os.listdir(tmp_path / "b"))
    assert len(files) == 8
    for f in files:
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()
    mtimes = [os.stat(tmp_path / "a" / f).st_mtime_ns for f in files]
    assert mtimes == sorted(mtimes)  # stream order = admission order


def test_expected_accounting_matches_the_reference_twin():
    from perfbench.ingest import table_schema

    msgs, fates = gen.ingest_messages(11, 0, 40_000)
    want = gen.expected_counts(fates)
    assert sum(want.values()) == 40_000
    # every fault class is present at roughly its share
    for fate in (gen.MALFORMED, gen.MISSING_REQUIRED, gen.TYPE_MISMATCH,
                 gen.TOMBSTONE):
        assert 100 < np.count_nonzero(fates == fate) < 300
    twin = make_twin(table_schema())
    got = [twin(m) for m in msgs.to_pylist()]
    assert {
        "valid": got.count(VALID), "dlq": got.count(DLQ),
        "dropped": got.count(DROP),
    } == want


def test_corpus_is_seeded_and_same_size_across_seeds():
    a, b, c = gen.corpus_tables(0), gen.corpus_tables(0), gen.corpus_tables(1)
    assert set(a) == set(gen.CORPUS_TABLES)
    for name in a:
        assert a[name].equals(b[name])
        assert a[name].num_rows == c[name].num_rows
        assert a[name].schema == c[name].schema
    assert not a["documents"].equals(c["documents"])
    texts = a["documents"].column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == gen.N_DOCS // 20
    assert all(t[:-4] in texts for t in dups)


# ------------------------------------------------------------ statistics

def test_tail_needs_ten_samples_beyond_it():
    assert measure.tail(list(range(19))) is None
    t = measure.tail(list(range(20)))
    assert t == {"value": 10.0, "percentile": 50.0, "n": 20}
    t = measure.tail(list(range(100, 0, -1)))
    assert t["percentile"] == 90.0 and t["value"] == 91.0
    # exactly ten samples sit at or beyond the reported value
    vals = list(np.random.default_rng(0).random(57))
    t = measure.tail(vals)
    assert sum(v >= t["value"] for v in vals) == 10


def test_union_length_merges_overlaps():
    assert measure.union_length([]) == 0
    assert measure.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert measure.union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_overlapping_children_once():
    tr = measure.Tracer(True)
    root = tr.add("run_batch", 0.0, 10.0)
    tr.add("valid_write", 2.0, 8.0, root)
    tr.add("dlq_write", 3.0, 6.0, root)  # overlaps the valid write
    tr.add("late", 9.0, 12.0, root)  # clipped to the parent
    assert tr.self_time(root) == pytest.approx(10.0 - 6.0 - 1.0)
    tr.add("grandchild", 2.5, 3.5, 1)
    assert tr.self_time(1) == pytest.approx(5.0)


def test_disabled_tracer_records_nothing():
    tr = measure.Tracer(False)
    sid = tr.open("x")
    tr.close(sid)
    assert sid is None and tr.spans == []


def test_process_tree_cpu_and_rss_are_readable():
    assert os.getpid() in measure.process_tree()
    assert measure.tree_cpu_s() > 0
    assert measure.tree_pss_mb() > 0


# ----------------------------------------------------- metric contract

def test_end_to_end_names_match_benchmark_json():
    from perfbench.run import END_TO_END_UNITS

    declared = {m["name"]: m for m in _bench()["end_to_end"]}
    assert set(declared) == set(END_TO_END_UNITS)
    for name, unit in END_TO_END_UNITS.items():
        assert NAME.fullmatch(name)
        assert declared[name]["unit"] == unit


def test_layer_names_match_benchmark_json():
    from perfbench.run import _layer_unit, layer_metric_names

    names = layer_metric_names()
    declared = {m["name"]: m for m in _bench()["per_layer"]}
    assert len(names) == len(set(names))
    assert set(names) == set(declared)
    for name in names:
        assert NAME.fullmatch(name) and len(name) <= 64
        assert declared[name]["unit"] == _layer_unit(name)


def test_benchmark_json_shape():
    b = _bench()
    assert set(b) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end",
        "per_layer",
    }
    from perfbench.run import WORKLOADS

    assert 2 <= len(b["workloads"]) <= 8
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    assert 1 <= len(b["per_layer"]) <= 128
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))

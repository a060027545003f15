"""Property-based pipeline tests (hypothesis): for ANY JSON-ish input,
the validate/cast core must satisfy its routing and schema invariants.

Driven through a single Spark batch per hypothesis example-set (one
example per row) to keep JVM round-trips off the per-example path.
"""

from __future__ import annotations

import json
import math

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka2clickhouse_py_streamer_spark.pipeline import process_batch
from kafka2clickhouse_py_streamer_spark.schema.clickhouse import build_table_schema

SCHEMA = build_table_schema(
    [
        ("device_id", "UInt32"),
        ("speed", "Float32"),
        ("note", "String"),
        ("mode", "Enum8('a'=1)"),
        ("event_ts", "DateTime"),
    ],
    required_columns=["device_id"],
    string_enum_columns=[],
)

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=20),
)

payloads = st.one_of(
    # arbitrary JSON objects over the schema's keys + a foreign key
    st.dictionaries(
        st.sampled_from(
            ["device_id", "speed", "note", "mode", "event_ts", "extra"]
        ),
        json_scalars,
        max_size=6,
    ).map(json.dumps),
    # raw garbage
    st.text(max_size=30),
)


_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from kafka2clickhouse_py_streamer_spark.session import get_spark

        _spark = get_spark(app_name="hypothesis", shuffle_partitions=4)
        _spark.sparkContext.setLogLevel("ERROR")
    return _spark


@settings(max_examples=10, deadline=None)
@given(st.lists(payloads, min_size=1, max_size=30))
def test_routing_partition_invariants(raw_payloads):
    spark = _get_spark()
    raw = spark.createDataFrame([(p,) for p in raw_payloads], "value string")
    valid, dlq = process_batch(raw, SCHEMA)
    v_rows = valid.collect()
    d_rows = dlq.collect()

    # 1. no row is both valid and DLQ'd; none invented
    assert len(v_rows) + len(d_rows) <= len(raw_payloads)

    # 2. output schema is exactly the sink schema, in order
    assert [f.name for f in valid.schema.fields] == SCHEMA.names

    # 3. sentinel guarantee: valid rows never carry nulls
    for r in v_rows:
        assert None not in list(r)

    # 4. every DLQ record carries the original payload + an error
    originals = set(raw_payloads)
    for d in d_rows:
        assert d.row in originals
        assert d.error

    # 5. dropped rows are exactly the undecodable/empty ones
    def decodable(p):
        if p is None or p.strip() == "":
            return False
        try:
            return isinstance(json.loads(p), dict)
        except ValueError:
            return False

    n_keepable = sum(1 for p in raw_payloads if decodable(p))
    assert len(v_rows) + len(d_rows) == n_keepable


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["speed", "note", "mode", "event_ts"]),
        json_scalars,
        max_size=4,
    )
)
def test_valid_rows_cast_types_hold(extra_fields):
    """Any payload with a valid required key either routes to DLQ (a
    type violation among the extras) or casts with the sentinel/type
    contract intact — never crashes, never emits a null."""
    spark = _get_spark()
    payload = json.dumps({"device_id": 1, **extra_fields})
    raw = spark.createDataFrame([(payload,)], "value string")
    valid, dlq = process_batch(raw, SCHEMA)
    v, d = valid.collect(), dlq.collect()
    assert len(v) + len(d) == 1
    if v:
        [r] = v
        assert r.device_id == 1
        assert isinstance(r.note, str)
        assert isinstance(r.mode, int)
        assert r.event_ts is not None
        assert not math.isnan(r.speed)


def test_validator_plan_is_one_arrow_udf():
    """The tag stage is the Arrow-batched UDF (one per batch), never
    the row-at-a-time BatchEvalPython."""
    from kafka2clickhouse_py_streamer_spark.pipeline.core import (
        tag_errors,
    )
    from kafka2clickhouse_py_streamer_spark.plans.analysis import (
        formatted_plan,
    )

    raw = _get_spark().createDataFrame([("{}",)], "value string")
    plan = formatted_plan(tag_errors(raw, SCHEMA))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_hostile_required_name_error_string():
    """A configured REQUIRED_COLUMNS name full of quote/dot/$ is matched
    as a literal key and echoed verbatim in the error string."""
    from kafka2clickhouse_py_streamer_spark.pipeline.core import (
        tag_errors,
    )

    hostile = build_table_schema(
        [("device_id", "UInt32")],
        required_columns=["a'b.c$d"],
        string_enum_columns=[],
    )
    raw = _get_spark().createDataFrame([("{}",)], "value string")
    [row] = tag_errors(raw, hostile).collect()
    assert row["_err"] == "data must contain ['a'b.c$d'] properties"


_NOT_INT = "data.device_id must be integer"
# (message, expected _err): None = valid, DROP = silently dropped
PARSER_EDGES = [
    ('{"device_id": 1}{truncated', "DROP"),
    ('{"device_id": 1} junk', "DROP"),
    ('{"device_id": 1},{"device_id": 2}', "DROP"),
    ('{"device_id": 1}   ', None),
    ('  {"device_id": 1}', None),
    ('{"device_id": 01}', "DROP"),
    ("{'device_id': 1}", "DROP"),
    ('{"device_id": 1e999}', _NOT_INT),
    ('{"device_id": 99999999999999999999}', None),
    ('{"device_id": 1.0}', _NOT_INT),
    ('{"device_id": 0.0}', _NOT_INT),
    ('{"device_id": true}', _NOT_INT),
    ('{"device_id": "1"}', _NOT_INT),
    ('{"device_id": 1, "speed": [1,2]}', "data.speed must be number"),
    ('{"device_id": 1, "note": {"x": 1}}', "data.note must be string"),
    ('﻿{"device_id": 1}', "DROP"),
    (" ", "DROP"),
    ("\t\n", "DROP"),
    ("null", "DROP"),
    ("true", "DROP"),
    ('"str"', "DROP"),
    ("[1]", "DROP"),
    ("[]", "DROP"),
    ("{}", "data must contain ['device_id'] properties"),
    ('{"device_id": null}', None),
    ('{"": 1, "device_id": 1}', None),
    ('{"device_id": -0}', None),
    ('{"device_id": 1E2}', _NOT_INT),
    ('{"device_id": 0.1e1}', _NOT_INT),
]


def test_validator_parser_edges_pinned():
    """Deterministic adversarial parse shapes — the class the random
    strategy under-samples: trailing garbage after a complete object,
    concatenated objects, leading zeros, single quotes, unicode
    whitespace, BOM, numeric edge tokens. Each ``_err`` is pinned."""
    from kafka2clickhouse_py_streamer_spark.pipeline.core import (
        _DROP,
        tag_errors,
    )

    raw = _get_spark().createDataFrame(
        [(i, m) for i, (m, _) in enumerate(PARSER_EDGES)],
        "id long, value string",
    )
    got = {r["id"]: r["_err"] for r in tag_errors(raw, SCHEMA).collect()}
    for i, (msg, want) in enumerate(PARSER_EDGES):
        assert got[i] == (_DROP if want == "DROP" else want), msg


def _zip_finder_count() -> int:
    import sys
    import zipimport

    return sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )


def test_zip_finder_evictor_drops_finders_and_imports_still_work(tmp_path):
    """The evictor leaves no zip finder in the importer cache, and a
    module not yet imported from the same zip still imports afterwards:
    eviction is cache eviction, finders are rebuilt on demand."""
    import importlib
    import sys
    import zipfile

    from kafka2clickhouse_py_streamer_spark.pipeline.core import (
        _zip_finder_evictor,
    )

    archive = tmp_path / "evict_probe.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("evict_probe_pkg/__init__.py", "")
        zf.writestr("evict_probe_pkg/first.py", "X = 1\n")
        zf.writestr("evict_probe_pkg/second.py", "Y = 2\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    try:
        sys.path.insert(0, str(archive))
        assert importlib.import_module("evict_probe_pkg.first").X == 1
        assert _zip_finder_count() > 0

        _zip_finder_evictor()()
        assert _zip_finder_count() == 0

        assert importlib.import_module("evict_probe_pkg.second").Y == 2
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in [m for m in sys.modules if m.startswith("evict_probe_pkg")]:
            del sys.modules[name]


def test_validator_worker_keeps_no_zip_finder():
    """A probe UDF chained over the validator's output runs in the same
    Python worker, right after the validator on each batch: it must see
    no zip finder. The control probe re-scans sys.path first and must
    see some, or this host has no zip on the worker path to evict."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.pipeline.core import tag_errors

    def probe(rescan: bool):
        @F.pandas_udf("long")
        def count_zip_finders(errs: pd.Series) -> pd.Series:
            import importlib.util
            import sys
            import zipimport

            if rescan:
                importlib.util.find_spec("no_such_module_zip_finder_probe")
            n = sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            )
            return pd.Series([n] * len(errs))

        return count_zip_finders

    raw = _get_spark().createDataFrame(
        [(m,) for m, _ in PARSER_EDGES], "value string"
    ).repartition(2)
    tagged = tag_errors(raw, SCHEMA)

    control = [r.n for r in tagged.select(probe(True)("_err").alias("n")).collect()]
    if not any(control):
        pytest.skip("no zip archive on the Python worker's sys.path")
    got = [r.n for r in tagged.select(probe(False)("_err").alias("n")).collect()]
    assert len(got) == len(PARSER_EDGES)
    assert set(got) == {0}


# one valid, one DLQ and one dropped message
_BY_VALUE_MSGS = ['{"device_id": 1}', '{"device_id": "1"}', "not json"]

_BY_VALUE_SCRIPT = """
import json, os, sys
import importlib.util

pkg = "kafka2clickhouse_py_streamer_spark"
sys.path[:] = [
    p for p in sys.path if not os.path.isdir(os.path.join(p or ".", pkg))
]
assert importlib.util.find_spec(pkg) is None

import pandas as pd
from pyspark import cloudpickle

with open(sys.argv[1], "rb") as fh:
    func = cloudpickle.load(fh)
out = list(func(pd.Series(json.loads(sys.argv[2]))))
assert not [m for m in sys.modules if m.split(".")[0] == pkg]
print(json.dumps(out))
"""


def test_validator_udf_pickles_by_value(tmp_path):
    """The validator UDF's Python function, as cloudpickle ships it to
    executors, runs in a process that cannot import this package and
    gives the same ``_err`` as in-process."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    from kafka2clickhouse_py_streamer_spark.pipeline.core import (
        _DROP,
        _validator_udf,
    )

    func = _validator_udf(SCHEMA).func
    want = list(func(pd.Series(_BY_VALUE_MSGS)))
    assert want == [None, _NOT_INT, _DROP]

    pickled = tmp_path / "validate.pkl"
    pickled.write_bytes(cloudpickle.dumps(func))
    done = subprocess.run(
        [sys.executable, "-c", _BY_VALUE_SCRIPT, str(pickled),
         json.dumps(_BY_VALUE_MSGS)],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == 0, done.stderr
    assert json.loads(done.stdout.splitlines()[-1]) == want

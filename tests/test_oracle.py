"""Differential tests: every registry query with an oracle must match
DuckDB on row count, column names, and order-insensitive values, and
return rows unless it is a declared KNOWN_VACUOUS query. Queries
without an oracle must at least execute and return a stable schema."""

from __future__ import annotations

import pytest

from kafka2clickhouse_py_streamer_spark.operators.base import all_queries
from tests.oracle_harness import KNOWN_VACUOUS, compare, duckdb_conn

REGISTRY = all_queries()
WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle)
ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if not q.oracle)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(spark, sf_dir, con, name):
    q = REGISTRY[name]
    df = q.fn(spark, sf_dir)
    res = compare(df, con, q.oracle)
    assert res["ok"], f"{name}: {res}"
    assert res["spark_rows"] > 0 or name in KNOWN_VACUOUS, (
        f"{name}: empty result makes its oracle green vacuous — give it a "
        f"non-empty crafted twin and list it in KNOWN_VACUOUS"
    )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    q = REGISTRY[name]
    df = q.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) > 0

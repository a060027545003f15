"""Local mirror of the driver's DuckDB differential check.

Runs a registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, sorted column names, and
order-insensitive values (rows sorted, NaN-safe, timestamps normalized).
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Queries whose result is legitimately EMPTY at sf0.01: their oracle
# green is vacuous (0 == 0 proves nothing about the operator). Each
# entry names the crafted fixture on which
# tests/test_adversarial.py::test_vacuous_mirror_greens_have_nonempty_twins
# proves the query NON-empty and oracle-equal; test_oracle_match fails
# any other query that comes back empty.
KNOWN_VACUOUS = {
    "d05_embedding_neardup": "crafted_neardup_embeddings",
    "m07_phash_neardup": "crafted_dup_media",
    "q05_anti_join": "crafted_childless_customers",
    "q63_forward_asof": "crafted_pre_order_events",
}


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):  # int(inf) overflows; canonicalize like NaN
            return "Infinity" if v > 0 else "-Infinity"
        if v == int(v) and abs(v) < 1e15:
            return float(v)
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, int):
        return float(v) if abs(v) < 1e15 else v
    return v


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm_cell(row[i]) for i in order) for row in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def compare(spark_df, con, sql: str) -> dict:
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.execute(sql)
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()

    result = {
        "spark_rows": len(s_rows),
        "duck_rows": len(d_rows),
        "cols_match": sorted(s_cols) == sorted(d_cols),
        "spark_cols": sorted(s_cols),
        "duck_cols": sorted(d_cols),
    }
    result["count_match"] = result["spark_rows"] == result["duck_rows"]
    if result["count_match"] and result["cols_match"]:
        ns, nd = _normalize(s_rows, s_cols), _normalize(d_rows, d_cols)
        result["values_match"] = ns == nd
        if not result["values_match"]:
            diffs = [
                (a, b) for a, b in zip(ns, nd) if a != b
            ][:3]
            result["first_diffs"] = diffs
    else:
        result["values_match"] = False
    result["ok"] = (
        result["count_match"] and result["cols_match"] and result["values_match"]
    )
    return result

"""Fixture-dtype regression tests.

The events.ts parquet physical type has changed between driver rounds
(timestamp[ns] -> timestamp[us], which Spark 4 reads as TIMESTAMP_NTZ)
and silently broke three queries that use NTZ-illegal expressions
(unix_micros, cast-to-double). Pin the one invariant every event-time
consumer relies on: ``table()`` always yields a plain session-TZ
TIMESTAMP column on which those expressions analyze.

Also here: the Spark-free checks on the scripts beside the package
(bench.py's stdout line, and that every tools/ import and imported
name resolves).
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from kafka2clickhouse_py_streamer_spark.operators.base import (
    normalize_event_time,
    table,
)

SF = "/root/testdata/sf0.001"


def test_events_ts_is_plain_timestamp(spark):
    e = table(spark, SF, "events")
    assert dict(e.dtypes)["ts"] == "timestamp", (
        "events.ts must normalize to TIMESTAMP (not TIMESTAMP_NTZ, not "
        "bigint) — q28/q50/w05 use unix_micros/double casts on it"
    )


def test_no_table_exposes_timestamp_ntz(spark):
    # the seam generalized: orders.o_orderdate is also parquet
    # timestamp[us] now — every table() read must be NTZ-free
    for name in ("orders", "lineitem", "customer", "events", "documents"):
        df = table(spark, SF, name)
        ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
        assert not ntz, f"{name} exposes TIMESTAMP_NTZ columns: {ntz}"


def test_ntz_illegal_expressions_analyze_on_events(spark):
    e = table(spark, SF, "events")
    # Exactly the expressions that broke in r02: analysis alone proves
    # the type; evaluate one row to prove execution too.
    row = (
        e.select(
            F.unix_micros("ts").alias("us"),
            F.col("ts").cast("double").alias("d"),
        )
        .limit(1)
        .collect()
    )
    assert row and row[0].us is not None


def test_normalize_event_time_handles_every_vintage(spark):
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    us = int(base.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000

    # bigint nanos (legacy nanosAsLong read)
    df_ns = spark.createDataFrame([(us * 1000,)], "ts long")
    out = normalize_event_time(df_ns)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.collect()[0].ts == base

    # TIMESTAMP_NTZ (Spark 4 reading of parquet timestamp[us])
    df_ntz = spark.createDataFrame([(base,)], "ts timestamp_ntz")
    out = normalize_event_time(df_ntz)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.collect()[0].ts == base

    # already TIMESTAMP: no-op
    df_ts = spark.createDataFrame([(base,)], "ts timestamp")
    out = normalize_event_time(df_ts)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.collect()[0].ts == base


def test_bench_stdout_line_fits_driver_tail_window():
    """The driver parses bench.py's JSON out of a bounded (~2000 char)
    stdout tail window; round 7 proved an over-long line records
    "parsed": null in BENCH_r{N}.json even on rc 0. The emitted line
    must stay under the cap for the CURRENT headline set (spreads go
    to the BENCH_SPREAD.json sidecar), and the degraded form must kick
    in rather than ever exceeding it."""
    import json
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    from bench import HEADLINE, LINE_CAP, format_output

    times = {name: 123.456 for name in HEADLINE}
    spreads = {name: [123.456, 123.456] for name in HEADLINE}
    line, sidecar = format_output(times, spreads, 12.345, 0.1)
    assert len(line) <= LINE_CAP < 2000
    parsed = json.loads(line)
    # the real (non-degraded) form still carries per-query times inline
    assert parsed["queries"] == times
    assert parsed["metric"] == "headline_total_wall"
    assert "rep_spread" not in parsed  # bulky — sidecar only
    assert sidecar["rep_spread"] == spreads
    assert sidecar["queries"] == times

    # pathological growth degrades instead of overflowing
    big = {f"q{i:02d}_{'x' * 40}": 1.0 for i in range(100)}
    line2, _ = format_output(big, {}, 0.0, 0.1)
    assert len(line2) <= LINE_CAP
    assert json.loads(line2)["queries_in"] == "BENCH_SPREAD.json"


def test_sf1_amplification_decorrelates_replicas(spark, tmp_path):
    """Round-10 guard: the sf1 generator's per-replica vowel remap is
    load-bearing for every ratio in SCALE.md — the pre-fix two-letter
    rotation left a/e-free words identical across replicas and
    injected 59M phantom cross-replica SimHash pairs (the receipt:
    1,649 after the fix). Re-run the remap on a mini 3-replica
    amplification of sf0.001 and pin the cross-replica pair count to
    at most the single-replica organic pair count, so a future
    generator edit can't silently reinflate the pair graph."""
    import glob as _glob
    import os
    import shutil
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools"),
    )
    from bench_sf1 import SHIFT, amplify_docs

    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        d06_simhash_pairs,
    )

    root = str(tmp_path / "mini_amp")
    os.makedirs(root)
    for p in _glob.glob(os.path.join(SF, "*.parquet")):
        if os.path.basename(p) != "documents.parquet":
            shutil.copy(p, os.path.join(root, os.path.basename(p)))
    src = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    amp = amplify_docs(src, 0)
    for r in (1, 2):
        amp = amp.unionByName(amplify_docs(src, r))
    amp.write.parquet(os.path.join(root, "documents.parquet"))

    pairs = d06_simhash_pairs(spark, root).select("doc_a", "doc_b")
    rep = lambda c: (F.col(c) / SHIFT).cast("long")  # noqa: E731
    cross = pairs.filter(rep("doc_a") != rep("doc_b")).count()
    base = d06_simhash_pairs(spark, SF).count()
    # organic pairs triple with 3 replicas; phantom cross-replica
    # cliques would add O(replicas^2 * docs) — orders beyond base
    assert cross <= max(base, 5), (
        f"cross-replica pairs {cross} exceed single-replica organic "
        f"count {base}: the amplification remap has re-correlated"
    )


def test_every_tool_import_resolves(monkeypatch):
    """Tier-1 never runs the scripts under tools/ (the soaks take
    minutes) or the benchmark under perfbench/, so a deleted module or
    function they import would break them silently. Resolve every
    absolute import in tools/*.py, perfbench/*.py and bench.py,
    module-level and function-local, with the repo root and tools/ on
    sys.path as the scripts themselves arrange; for
    ``from <module> import a, b`` where the module lives in this repo
    (the package, perfbench, a sibling under tools/), require every
    imported name too."""
    import ast
    import glob as _glob
    import importlib
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(repo, "tools")
    monkeypatch.syspath_prepend(repo)
    monkeypatch.syspath_prepend(tools)

    def resolves(module: str) -> bool:
        try:
            return importlib.util.find_spec(module) is not None
        except ModuleNotFoundError:  # a missing parent package
            return False

    def missing_names(node) -> list[str]:
        spec = importlib.util.find_spec(node.module)
        if not (spec.origin or "").startswith(repo + os.sep):
            return []
        mod = importlib.import_module(node.module)
        return [
            f"{node.module}.{a.name}"
            for a in node.names
            if a.name != "*"
            and not hasattr(mod, a.name)
            and not resolves(f"{node.module}.{a.name}")
        ]

    scripts = sorted(_glob.glob(os.path.join(tools, "*.py")))
    scripts += sorted(_glob.glob(os.path.join(repo, "perfbench", "*.py")))
    scripts.append(os.path.join(repo, "bench.py"))
    unresolved = []
    for path in scripts:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                modules = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                modules = [node.module]
            else:
                continue
            bad = [m for m in modules if not resolves(m)]
            if not bad and isinstance(node, ast.ImportFrom):
                bad = missing_names(node)
            unresolved += [
                f"{os.path.relpath(path, repo)}:{node.lineno} {m}"
                for m in bad
            ]
    assert len(scripts) > 1
    assert not unresolved, unresolved

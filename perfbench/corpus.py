"""``corpus_llm``: a fixed-order set of registry queries spanning every
LLM operator module and the three session substrates (centroids, kNN
graph, phash), run over a seeded corpus. Set-up is the session plus
one cold pass; timed passes follow. Each query's output is checked,
untimed, against its DuckDB twin."""

from __future__ import annotations

import os
import time
import traceback

from perfbench import gen, measure

_DOCS, _EMB = ("documents",), ("embeddings",)
# query → the tables it reads (their rows are a pass's input rows)
QUERIES = {
    "q03_top_orders": ("customer", "orders", "lineitem"),
    "p07_corpus_pipeline": _DOCS,
    "p14_span_scrub_pipeline": _DOCS,
    "d03_minhash_lsh": _DOCS,
    "d17_containment_pairs": _DOCS,
    "d24_editdist_neardup": _DOCS,
    "t23_pmi_collocations": _DOCS,
    "s13_pq_adc_topk": _EMB,
    "s19_cascade_rerank": _EMB,
    "s22_khop_expansion": _EMB,
    "m08_media_canonical": _DOCS,
}
# a warm pass takes ~14 s on 4 cores; the pass count is fixed by the
# run length alone, so a faster engine is measured on the same passes
NOMINAL_PASS_S = 14.0
LAYER_FIELDS = (
    "wall_s", "cold_s", "driver_s", "jobs", "stages", "executor_cpu_s",
    "shuffle_write_bytes", "spill_bytes",
)
_PKG = "kafka2clickhouse_py_streamer_spark."


def layer_metric_names() -> list[str]:
    from kafka2clickhouse_py_streamer_spark.operators.base import all_queries

    registry = all_queries()
    return [
        f"{registry[q].fn.__module__.removeprefix(_PKG)}.{q}.{f}"
        for q in QUERIES for f in LAYER_FIELDS
    ]


class _Result:
    """The collected output of one execution, shaped for
    ``oracle_harness.compare`` (which needs ``columns`` and
    ``collect()``)."""

    def __init__(self, columns, rows) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def _execute(spark, fn, data):
    spark.catalog.clearCache()
    start = time.time()
    df = fn(spark, data)
    rows = df.collect()
    return start, time.time(), _Result(df.columns, rows)


def run(ctx) -> dict:
    data = os.path.join(ctx.work, "corpus")
    table_rows = gen.write_corpus(data, ctx.seed)
    rows_per_pass = sum(table_rows[t] for ts in QUERIES.values() for t in ts)

    from kafka2clickhouse_py_streamer_spark.operators.base import all_queries

    registry = all_queries()
    spark, session_start = ctx.start_session()
    cold, first = {}, {}
    for q in QUERIES:
        s, e, first[q] = _execute(spark, registry[q].fn, data)
        cold[q] = e - s
        ctx.tracer.add(f"cold.{q}", s, e, ctx.root_span)
    setup_end = time.time()

    walls: dict[str, list[tuple[float, float]]] = {q: [] for q in QUERIES}
    spans: dict[str, list[int | None]] = {q: [] for q in QUERIES}
    inconsistent = set()
    cpu0 = measure.tree_cpu_s()
    passes = max(1, round(ctx.seconds / NOMINAL_PASS_S))
    for _ in range(passes):
        pid = ctx.tracer.open("pass", ctx.root_span)
        for q in QUERIES:
            s, e, res = _execute(spark, registry[q].fn, data)
            walls[q].append((s, e))
            spans[q].append(ctx.tracer.add(f"query.{q}", s, e, pid))
            if len(res.collect()) != len(first[q].collect()):
                inconsistent.add(q)
        ctx.tracer.close(pid)
    cpu_per_pass = (measure.tree_cpu_s() - cpu0) / passes

    median_wall = {
        q: measure.median([e - s for s, e in walls[q]]) for q in QUERIES
    }
    query_set_s = sum(median_wall.values())

    # ---- correctness, untimed: every query against its DuckDB twin
    from tests.oracle_harness import compare, duckdb_conn

    t = time.perf_counter()
    con = duckdb_conn(data)
    failed = set(inconsistent)
    for q in QUERIES:
        try:
            if not compare(first[q], con, registry[q].oracle)["ok"]:
                failed.add(q)
        except Exception:  # a twin that cannot run is a failed check
            ctx.note(f"oracle_error.{q}", traceback.format_exc())
            failed.add(q)
    con.close()
    ctx.note("oracle_check_s", time.perf_counter() - t)
    ctx.note("passes", passes)
    ctx.note("rows_per_pass", rows_per_pass)
    ctx.note("query_wall_s", median_wall)
    ctx.note("oracle_failed", sorted(failed))

    result = {
        "attempted": len(QUERIES),
        "failed": len(failed),
        "metrics": {
            "setup_s": setup_end - session_start,
            "cpu_s_per_mrow": cpu_per_pass / rows_per_pass * 1e6,
        },
        "figures": {
            "query_set_s": query_set_s,
            "cpu_s_per_pass": cpu_per_pass,
        },
    }
    if not ctx.trace:
        return result

    # ---- layers: status-store jobs attributed to each execution by
    # their submission time
    t = time.perf_counter()
    jobs = measure.status_store_jobs(spark)
    ctx.note("status_store_s", time.perf_counter() - t)
    layers = {}
    for q in QUERIES:
        prefix = f"{registry[q].fn.__module__.removeprefix(_PKG)}.{q}"
        per = []
        for (s, e), sid in zip(walls[q], spans[q]):
            mine = [j for j in jobs if s <= j.start <= e]
            busy = measure.union_length(
                (j.start, min(j.end, e)) for j in mine
            )
            per.append({
                "driver_s": (e - s) - busy,
                "jobs": len(mine),
                "stages": sum(j.stages for j in mine),
                "executor_cpu_s": sum(j.executor_cpu_s for j in mine),
                "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in mine),
                "spill_bytes": sum(j.spill_bytes for j in mine),
            })
            ctx.tracer.count(sid, **per[-1])
        layers[f"{prefix}.wall_s"] = median_wall[q]
        layers[f"{prefix}.cold_s"] = cold[q]
        for f in LAYER_FIELDS[2:]:
            layers[f"{prefix}.{f}"] = measure.median([p[f] for p in per])
    result["layers"] = layers
    return result

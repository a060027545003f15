"""Ingest workloads: a pre-laid backlog drained by
``PipelineJob.start(available_now=True)``, the reference's
poll → validate/cast → insert + DLQ → commit loop on Structured
Streaming. Parquet sinks stand in for ClickHouse and the DLQ topic.

Every layer is timed from outside: Spark's per-trigger progress
(``durationMs``), a :class:`PipelineJob` subclass around the
foreachBatch body, the injected sink and schema-provider callables,
and the status store for per-trigger jobs/stages/tasks/CPU/shuffle."""

from __future__ import annotations

import math
import os
import re
import time
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, measure
from perfbench.twin import DLQ, DROP, VALID, make_twin

# (rows per trigger, intake partitions, warm-up triggers, nominal
# seconds per steady trigger: sizes the backlog to the run length).
# Warm-up covers the first-touch trigger (~10 s) and the JIT tail that
# keeps shortening triggers after it.
SHAPES = {
    "ingest_parity": (25_000, 1, 5, 1.0),
    "ingest_bulk": (250_000, 8, 3, 2.5),
}
MIN_STEADY = 4
TWIN_CLEAN_SAMPLE = 20_000
CORE_ROWS_CAP = 100_000  # pipeline.core batch: one trigger, capped
CORE_REPS = 3

DURATIONS = {  # StreamingQueryProgress.durationMs key → metric
    "latestOffset": "latest_offset",
    "queryPlanning": "query_planning",
    "walCommit": "wal_commit",
    "addBatch": "add_batch",
    "commitOffsets": "commit_offsets",
}
TRIGGER_COUNTERS = (
    "spark_jobs", "stages", "tasks", "executor_cpu_ms", "shuffle_write_bytes",
)
SINK_METRICS = (
    "valid_write_ms", "dlq_write_ms", "valid_rows", "dlq_rows",
    "valid_files", "dlq_files",
)
CORE_METRICS = tuple(
    f"pipeline.core.{k}_rows_per_s_{p}"
    for k in ("tag", "typed") for p in ("1p", "np")
)


def layer_metric_names() -> list[str]:
    return (
        [f"streaming.job.{m}_ms" for m in DURATIONS.values()]
        + ["streaming.job.run_batch_ms", "streaming.job.pre_write_ms"]
        + [f"streaming.job.{c}" for c in TRIGGER_COUNTERS]
        + [f"sinks.{m}" for m in SINK_METRICS]
        + ["schema.fetches"]
        + list(CORE_METRICS)
        + ["reference_twin.rows_per_s"]
    )


def table_schema():
    from kafka2clickhouse_py_streamer_spark.schema.clickhouse import (
        build_table_schema,
    )

    return build_table_schema(
        gen.CH_COLUMNS,
        required_columns=gen.REQUIRED,
        string_enum_columns=gen.STRING_ENUMS,
        datetime_columns=gen.DATETIMES,
    )


class CountingProvider:
    """The injected schema provider (the reference's DESCRIBE TABLE);
    every fetch is counted — more than one means drift retries."""

    def __init__(self, schema) -> None:
        self._schema = schema
        self.fetches = 0

    def fetch(self):
        self.fetches += 1
        return self._schema


class TriggerLog:
    """Per-trigger timestamps shared by the job subclass and the sinks."""

    def __init__(self, tracer, tracing: bool) -> None:
        self.tracer = tracer
        self.tracing = tracing
        self.current_batch = -1
        self.run_batch_wall: dict[int, tuple[float, float]] = {}
        self.first_write: dict[int, float] = {}  # first valid-sink call
        self.batch_span: dict[int, int | None] = {}
        self.cpu_at_steady: float | None = None


class TimedSink:
    """Wraps an injected ``sinks.parquet_sink``: records each call's
    [start, end) wall and, when tracing, the files that call wrote."""

    def __init__(self, name: str, path: str, log: TriggerLog) -> None:
        from kafka2clickhouse_py_streamer_spark.sinks import parquet_sink

        self.name = name
        self.path = path
        self._write = parquet_sink(path)
        self._log = log
        self.calls: dict[int, tuple] = {}  # batch id → (start, end, files)

    def __call__(self, df) -> None:
        log = self._log
        batch = log.current_batch
        before = set(_data_files(self.path)) if log.tracing else None
        start = time.time()
        if self.name == "valid":
            log.first_write.setdefault(batch, start)
        self._write(df)
        end = time.time()
        files = sorted(set(_data_files(self.path)) - before) if log.tracing else []
        self.calls[batch] = (start, end, files)
        log.tracer.add(
            f"sinks.{self.name}_write", start, end, log.batch_span.get(batch),
            files=len(files),
        )


def _data_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet")
    ]


def parquet_rows(paths) -> int:
    return sum(pq.read_metadata(p).num_rows for p in paths)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def run(ctx) -> dict:
    rows_per_trigger, partitions, warmup, nominal_s = SHAPES[ctx.workload]
    steady = max(MIN_STEADY, math.ceil(ctx.seconds / nominal_s))
    triggers = warmup + steady
    intake = os.path.join(ctx.work, "intake")
    t = time.perf_counter()
    fates = gen.lay_backlog(
        intake, ctx.seed, triggers, rows_per_trigger, partitions
    )
    ctx.note("generate_s", time.perf_counter() - t)
    expected = gen.expected_counts(fates)
    schema = table_schema()

    from kafka2clickhouse_py_streamer_spark.streaming.job import PipelineJob

    class BenchJob(PipelineJob):
        """Times the foreachBatch body from outside."""

        def run_batch(self, batch_df, batch_id: int = 0) -> None:
            log.current_batch = batch_id
            start = time.time()
            log.batch_span[batch_id] = ctx.tracer.open(
                "streaming.job.run_batch", ctx.root_span
            )
            try:
                super().run_batch(batch_df, batch_id)
            finally:
                log.run_batch_wall[batch_id] = (start, time.time())
                ctx.tracer.close(log.batch_span[batch_id])
                if batch_id == warmup - 1:
                    log.cpu_at_steady = measure.tree_cpu_s()

    log = TriggerLog(ctx.tracer, ctx.trace)
    spark, session_start = ctx.start_session()
    provider = CountingProvider(schema)
    valid_sink = TimedSink("valid", os.path.join(ctx.work, "out"), log)
    dlq_sink = TimedSink("dlq", os.path.join(ctx.work, "dlq"), log)
    job = BenchJob(provider, sink=valid_sink, dlq_sink=dlq_sink)

    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", partitions)
        .parquet(intake)
    )
    query = job.start(
        stream, os.path.join(ctx.work, "ckpt"), available_now=True
    )
    query.awaitTermination()
    cpu_end = measure.tree_cpu_s()

    progress = sorted(
        (p for p in query.recentProgress if p.numInputRows),
        key=lambda p: p.batchId,
    )
    steady_p = [p for p in progress if p.batchId >= warmup]
    trig_ms = [p.durationMs["triggerExecution"] for p in steady_p]
    first_steady = _epoch(steady_p[0].timestamp)
    last = steady_p[-1]
    last_end = _epoch(last.timestamp) + last.durationMs["triggerExecution"] / 1e3
    steady_rows = rows_per_trigger * len(steady_p)
    cpu_s = cpu_end - log.cpu_at_steady

    # ---- correctness: exact accounting against the generator, and
    # the generator's labels against the reference twin
    got = {
        "valid": parquet_rows(_data_files(valid_sink.path)),
        "dlq": parquet_rows(_data_files(dlq_sink.path)),
    }
    twin = make_twin(schema)
    sample = np.flatnonzero(fates != gen.VALID)
    sample = np.union1d(sample, np.arange(min(TWIN_CLEAN_SAMPLE, len(fates))))
    msgs = _messages(intake, sample, len(fates))
    want = {
        gen.VALID: VALID, gen.MISSING_REQUIRED: DLQ,
        gen.TYPE_MISMATCH: DLQ, gen.MALFORMED: DROP, gen.TOMBSTONE: DROP,
    }
    t = time.perf_counter()
    twin_fates = [twin(m) for m in msgs]
    twin_s = time.perf_counter() - t
    twin_mismatch = sum(
        twin_fates[k] != want[fates[i]] for k, i in enumerate(sample)
    )
    failed = (
        abs(got["valid"] - expected["valid"])
        + abs(got["dlq"] - expected["dlq"])
        + twin_mismatch
        + (len(progress) != triggers) * rows_per_trigger
    )
    ctx.note("expected", expected)
    ctx.note("got", got)
    ctx.note("twin_checked", len(sample))
    ctx.note("twin_mismatch", twin_mismatch)
    ctx.note("triggers", {"warmup": warmup, "steady": len(steady_p)})
    ctx.note("schema_fetches", provider.fetches)

    ctx.note("trigger_ms", [p.durationMs["triggerExecution"] for p in progress])
    result = {
        "attempted": len(fates),
        "failed": int(min(failed, len(fates))),
        "metrics": {
            "setup_s": first_steady - session_start,
            "cpu_s_per_mrow": cpu_s / steady_rows * 1e6,
        },
        "figures": {
            "rows_per_s": steady_rows / (last_end - first_steady),
            "trigger_p50_ms": measure.median(trig_ms),
            "trigger_tail_ms": measure.tail(trig_ms),
        },
    }
    if not ctx.trace:
        return result

    # ---------------------------------------------------------- layers
    steady_ids = [p.batchId for p in steady_p]
    layers = {}
    for key, name in DURATIONS.items():
        layers[f"streaming.job.{name}_ms"] = measure.median(
            [p.durationMs.get(key, 0) for p in steady_p]
        )
    layers["streaming.job.run_batch_ms"] = measure.median(
        [1e3 * (log.run_batch_wall[b][1] - log.run_batch_wall[b][0])
         for b in steady_ids]
    )
    layers["streaming.job.pre_write_ms"] = measure.median(
        [1e3 * (log.first_write[b] - log.run_batch_wall[b][0])
         for b in steady_ids]
    )
    per_trigger = {b: dict.fromkeys(TRIGGER_COUNTERS, 0) for b in steady_ids}
    for j in measure.status_store_jobs(spark):
        m = re.search(r"batch = (\d+)", j.description)
        b = int(m.group(1)) if m else None
        if b in per_trigger:
            c = per_trigger[b]
            c["spark_jobs"] += 1
            c["stages"] += j.stages
            c["tasks"] += j.tasks
            c["executor_cpu_ms"] += j.executor_cpu_s * 1e3
            c["shuffle_write_bytes"] += j.shuffle_write_bytes
            ctx.tracer.add(
                "spark.job", j.start, j.end, log.batch_span.get(b),
                stages=j.stages, tasks=j.tasks,
            )
    for c in TRIGGER_COUNTERS:
        layers[f"streaming.job.{c}"] = measure.median(
            [per_trigger[b][c] for b in steady_ids]
        )
    for sink in (valid_sink, dlq_sink):
        calls = [sink.calls.get(b) for b in steady_ids]
        layers[f"sinks.{sink.name}_write_ms"] = measure.median(
            [1e3 * (c[1] - c[0]) if c else 0.0 for c in calls]
        )
        layers[f"sinks.{sink.name}_rows"] = measure.median(
            [parquet_rows(c[2]) if c else 0 for c in calls]
        )
        layers[f"sinks.{sink.name}_files"] = measure.median(
            [len(c[2]) if c else 0 for c in calls]
        )
    layers["schema.fetches"] = provider.fetches
    for p in progress:
        start = _epoch(p.timestamp)
        sid = ctx.tracer.add(
            "streaming.trigger", start,
            start + p.durationMs["triggerExecution"] / 1e3, ctx.root_span,
            batch=p.batchId, rows=p.numInputRows,
        )
        if log.batch_span.get(p.batchId) is not None:
            ctx.tracer.spans[log.batch_span[p.batchId]].parent = sid
    layers.update(_core_rates(ctx, spark, schema, intake, rows_per_trigger,
                              partitions))
    layers["reference_twin.rows_per_s"] = len(sample) / twin_s
    result["layers"] = layers
    return result


def _messages(intake: str, index: np.ndarray, total: int) -> list[str]:
    """Messages at stream positions ``index`` (files in stream order)."""
    import pyarrow as pa

    files = sorted(f for f in os.listdir(intake) if f.endswith(".parquet"))
    col = pa.concat_arrays([
        pq.read_table(os.path.join(intake, f)).column("value").combine_chunks()
        for f in files
    ])
    if len(col) != total:
        raise RuntimeError(f"intake holds {len(col)} messages, expected {total}")
    return col.take(index).to_pylist()


def _core_rates(ctx, spark, schema, intake, rows_per_trigger, partitions):
    """``tag_errors`` and ``process_batch`` called directly over a
    cached batch of the workload's trigger shape — no streaming shell,
    no sink (a ``noop`` write forces every column) — at 1 partition
    and at one partition per core."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.pipeline import process_batch
    from kafka2clickhouse_py_streamer_spark.pipeline.core import tag_errors

    files = sorted(f for f in os.listdir(intake) if f.endswith(".parquet"))
    first = [os.path.join(intake, f) for f in files[:partitions]]
    raw = spark.read.parquet(*first).limit(
        min(rows_per_trigger, CORE_ROWS_CAP)
    )
    out = {}
    for label, width in (("1p", 1), ("np", ctx.cpus)):
        batch = raw.repartition(width).persist()
        n = batch.count()
        for kind, build in (
            ("tag", lambda b: tag_errors(b, schema).select(F.col("_err"))),
            ("typed", lambda b: process_batch(b, schema)[0]),
        ):
            walls = []
            for rep in range(CORE_REPS + 1):
                t = time.perf_counter()
                build(batch).write.format("noop").mode("overwrite").save()
                if rep:  # the first call warms the plan and the workers
                    walls.append(time.perf_counter() - t)
            out[f"pipeline.core.{kind}_rows_per_s_{label}"] = (
                n / measure.median(walls)
            )
        batch.unpersist()
    return out

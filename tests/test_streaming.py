"""Streaming shell tests (SURVEY.md §5.3): sink/DLQ routing, schema-
drift retry, empty-batch short-circuit, and an end-to-end file-stream
run through foreachBatch (at-least-once semantics)."""

from __future__ import annotations

import json
import os
from functools import partial

import pytest

from kafka2clickhouse_py_streamer_spark.schema.clickhouse import build_table_schema
from kafka2clickhouse_py_streamer_spark.streaming.job import (
    PipelineJob,
    StaticSchemaProvider,
)

SCHEMA = build_table_schema(
    [("device_id", "UInt32"), ("speed", "Float32"), ("note", "String")],
    required_columns=["device_id"],
)

GOOD = '{"device_id": 1, "speed": 3.5, "note": "ok"}'
BAD = '{"speed": 1.0}'  # missing required device_id


class ListSink:
    def __init__(self, fail_times: int = 0):
        self.rows: list = []
        self.calls = 0
        self._fail_times = fail_times

    def __call__(self, df):
        self.calls += 1
        if self.calls <= self._fail_times:
            raise RuntimeError("sink unavailable")
        self.rows.extend(df.collect())


def make_batch(spark, payloads):
    return spark.createDataFrame([(p,) for p in payloads], "value string")


def start_batches(stream, fn, checkpoint_dir, **kwargs):
    """Run ``fn(batch_df, batch_id, **kwargs)`` under foreachBatch."""
    return (
        stream.writeStream.foreachBatch(partial(fn, **kwargs))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def test_routing_valid_and_dlq(spark):
    sink, dlq = ListSink(), ListSink()
    job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
    job.run_batch(make_batch(spark, [GOOD, BAD, ""]))
    assert [r.device_id for r in sink.rows] == [1]
    assert len(dlq.rows) == 1 and "device_id" in dlq.rows[0].error


def test_empty_batch_short_circuit(spark):
    sink, dlq = ListSink(), ListSink()
    provider = StaticSchemaProvider(SCHEMA)
    job = PipelineJob(provider, sink, dlq)
    job.run_batch(make_batch(spark, []))
    assert sink.calls == 0 and dlq.calls == 0
    assert provider.fetch_count == 0  # schema not even fetched


def test_all_tombstone_batch_surfaces_plan_error(spark, monkeypatch):
    """Round-10 advice: on the n_rows==0 path the plan future's
    exception was never retrieved — a schema/analysis error on an
    all-tombstone batch stayed swallowed until a later nonempty batch
    misattributed it. The empty arm must resolve the future."""
    sink, dlq = ListSink(), ListSink()
    job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)

    def boom(tagged):
        raise RuntimeError("analysis exploded")

    monkeypatch.setattr(job, "_plan_valid", boom)
    with pytest.raises(RuntimeError, match="analysis exploded"):
        job.run_batch(make_batch(spark, ["", "   "]))
    assert sink.calls == 0 and dlq.calls == 0


def test_schema_cached_across_batches(spark):
    sink, dlq = ListSink(), ListSink()
    provider = StaticSchemaProvider(SCHEMA)
    job = PipelineJob(provider, sink, dlq)
    job.run_batch(make_batch(spark, [GOOD]))
    job.run_batch(make_batch(spark, [GOOD]))
    assert provider.fetch_count == 1  # cache hit on second batch


def test_drift_retry_once_then_success(spark):
    sink, dlq = ListSink(fail_times=1), ListSink()
    provider = StaticSchemaProvider(SCHEMA)
    job = PipelineJob(provider, sink, dlq)
    job.run_batch(make_batch(spark, [GOOD]))
    assert sink.calls == 2  # failed once, refetched schema, retried
    assert provider.fetch_count == 2
    assert [r.device_id for r in sink.rows] == [1]
    assert dlq.rows == []


def test_double_failure_routes_valid_to_dlq(spark):
    sink, dlq = ListSink(fail_times=2), ListSink()
    job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
    job.run_batch(make_batch(spark, [GOOD, BAD]))
    assert sink.rows == []
    errors = sorted(r.error for r in dlq.rows)
    assert len(errors) == 2
    assert any("insert failed after retry" in e for e in errors)
    assert any("device_id" in e for e in errors)


def test_retry_arm_dlq_collapses_to_one_task(spark):
    """Round-9 advice: the drift-retry arm wrote dlq_final at full
    tagged2 width — |partitions| tiny DLQ files/commits per drift
    event — while the happy path collapses minority splits to one
    task. The retry arm must apply the same collapse: the overlapped
    DLQ write and the retry arm's write are each one task."""
    parts_seen = []

    class PartProbeSink(ListSink):
        def __call__(self, df):
            parts_seen.append(df.rdd.getNumPartitions())
            super().__call__(df)

    sink, dlq = ListSink(fail_times=2), PartProbeSink()
    job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
    job.run_batch(make_batch(spark, [GOOD, BAD]))
    assert len(dlq.rows) == 2
    assert parts_seen == [1, 1], parts_seen


def test_file_stream_end_to_end(spark, tmp_path):
    """Real Structured Streaming run: text-file source → foreachBatch →
    memory sinks, with checkpointing (the at-least-once WAL)."""
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "batch0.txt", "w") as f:
        f.write("\n".join([GOOD, BAD, '{"device_id": 2}']))

    stream = (
        spark.readStream.format("text")
        .load(str(src))
        .withColumnRenamed("value", "value")
    )
    sink, dlq = ListSink(), ListSink()
    job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
    q = job.start(stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.device_id for r in sink.rows)
    assert got == [1, 2]
    assert sink.rows[0].__fields__ == ["device_id", "speed", "note"]
    # missing optional cols filled with sentinels even via the stream
    row2 = next(r for r in sink.rows if r.device_id == 2)
    assert row2.speed == pytest.approx(2000000000.0) and row2.note == ""
    assert len(dlq.rows) == 1


def test_file_stream_resume_no_reprocess(spark, tmp_path):
    """Checkpoint resume: a restarted query only reads NEW files — the
    Structured Streaming twin of the reference's offset commit."""
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    with open(src / "a.txt", "w") as f:
        f.write(GOOD)

    def run_once():
        stream = spark.readStream.format("text").load(str(src))
        sink, dlq = ListSink(), ListSink()
        job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
        q = job.start(stream, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sink.rows

    first = run_once()
    assert len(first) == 1
    with open(src / "b.txt", "w") as f:
        f.write(json.dumps({"device_id": 9}))
    second = run_once()
    assert [r.device_id for r in second] == [9]  # a.txt not replayed


def test_describe_provider_drift_retry_sees_new_schema(spark):
    """C1 end-to-end with a schema that actually CHANGES between
    fetches: the warehouse gains a column, the sink rejects writes
    built against the stale schema, and the retry's re-fetch (via the
    DESCRIBE-backed provider) heals the batch."""
    from kafka2clickhouse_py_streamer_spark.schema.describe import (
        DescribeTableSchemaProvider,
    )

    v1 = [("device_id", "UInt32"), ("speed", "Float32")]
    v2 = v1 + [("note", "String")]  # drift: column added
    fetched: list[list[tuple[str, str]]] = [v1, v2]

    def describe():
        return fetched.pop(0) if len(fetched) > 1 else fetched[0]

    provider = DescribeTableSchemaProvider(
        describe, required_columns=["device_id"]
    )

    class StrictSink(ListSink):
        """Accepts only writes matching the CURRENT warehouse schema."""

        def __call__(self, df):
            self.calls += 1
            if df.columns != ["device_id", "speed", "note"]:
                raise RuntimeError(f"schema mismatch: {df.columns}")
            self.rows.extend(df.collect())

    sink, dlq = StrictSink(), ListSink()
    job = PipelineJob(provider, sink, dlq)
    job.run_batch(make_batch(spark, [GOOD]))

    assert provider.fetch_count == 2  # initial + drift re-fetch
    assert sink.calls == 2  # stale write failed, healed write landed
    assert [r.device_id for r in sink.rows] == [1]
    assert sink.rows[0].note == "ok"
    assert dlq.rows == []


def test_describe_provider_rejects_empty_result():
    from kafka2clickhouse_py_streamer_spark.schema.describe import (
        DescribeTableSchemaProvider,
    )

    provider = DescribeTableSchemaProvider(lambda: [])
    with pytest.raises(ValueError, match="no columns"):
        provider.fetch()


def test_jdbc_describe_rejects_suspicious_identifier(spark):
    from kafka2clickhouse_py_streamer_spark.schema.describe import (
        jdbc_describe,
    )

    with pytest.raises(ValueError, match="suspicious"):
        jdbc_describe(spark, "jdbc:fake", "events; DROP TABLE x")


def test_rate_source_drives_windowed_agg(spark, tmp_path):
    """The rate synthetic source feeds a windowed count end to end —
    the broker-free load generator for streaming benchmarks."""
    import time

    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.sources.files import rate_stream

    src = rate_stream(spark, rows_per_second=200, num_partitions=2)
    assert src.isStreaming
    assert [f.name for f in src.schema.fields] == ["timestamp", "value"]

    agg = src.groupBy(F.window("timestamp", "1 second")).count()
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_windows")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        rows = 0
        for _ in range(20):  # up to ~10 s for the first non-empty batch
            time.sleep(0.5)
            q.processAllAvailable()
            rows = spark.sql("SELECT COUNT(*) FROM rate_windows").first()[0]
            if rows > 0:
                break
        assert rows > 0
    finally:
        q.stop()


def test_stream_static_enrichment_windowed(spark, tmp_path):
    """w04's streaming form: a file-stream of events joined to a STATIC
    dimension frame (broadcast per micro-batch), then a tumbling-window
    aggregation per dim attribute — the readStream-join-static pattern
    whose batch twin is oracle-verified as w04_enriched_windows."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
    )

    src = str(tmp_path / "events")
    os.makedirs(src)
    raw = StructType([StructField("value", StringType())])
    dim = spark.createDataFrame(
        [(1, "AUTO"), (2, "HOME")], "user_id long, segment string"
    )
    events = (
        spark.readStream.schema(raw)
        .json(src)
        .select(
            F.get_json_object("value", "$.user_id").cast("long").alias("user_id"),
            F.get_json_object("value", "$.ts").cast("timestamp").alias("ts"),
            F.get_json_object("value", "$.v").cast("double").alias("v"),
        )
    )
    enriched = (
        events.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_windows")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    def push(n, rows):
        with open(os.path.join(src, f"b{n}.json"), "w") as f:
            for r in rows:
                f.write(json.dumps({"value": json.dumps(r)}) + "\n")
        q.processAllAvailable()

    try:
        push(0, [
            {"user_id": 1, "ts": "2024-01-01 10:05:00", "v": 2.0},
            {"user_id": 2, "ts": "2024-01-01 10:10:00", "v": 3.0},
            {"user_id": 9, "ts": "2024-01-01 10:15:00", "v": 5.0},  # no dim row
        ])
        push(1, [
            {"user_id": 1, "ts": "2024-01-01 10:20:00", "v": 4.0},
        ])
        got = {
            (r["segment"], r["w"]["start"].hour): (r["n"], r["s"])
            for r in spark.sql("SELECT * FROM enriched_windows").collect()
        }
        # inner join drops the dimension-less user; AUTO accumulated
        # across both micro-batches
        assert got == {("AUTO", 10): (2, 6.0), ("HOME", 10): (1, 3.0)}
    finally:
        q.stop()


def test_idempotent_sink_replay_is_duplicate_free(spark, tmp_path):
    """Re-running the same batch id must overwrite, not append — the
    deterministic-replay recipe that upgrades foreachBatch from
    at-least-once to exactly-once file output."""
    from kafka2clickhouse_py_streamer_spark.streaming.exactly_once import (
        idempotent_parquet_sink,
        read_idempotent,
    )

    dest = str(tmp_path / "out")
    sink = idempotent_parquet_sink(dest)
    df = spark.range(100).withColumnRenamed("id", "v")

    sink(df, 0)
    sink(df, 0)  # replay of the same micro-batch
    sink(df, 1)  # a genuinely new micro-batch

    got = read_idempotent(spark, dest)
    assert got.count() == 200  # 100 (batch 0, once) + 100 (batch 1)
    assert got.filter("_batch_id = 0").count() == 100


def test_batch_metrics_listener_records_progress(spark, tmp_path):
    """The per-batch metrics listener (reference main.py:466 parity)
    must capture batch id + input rows for completed micro-batches."""
    import time

    from pyspark.sql.types import StringType, StructField, StructType

    from kafka2clickhouse_py_streamer_spark.streaming.metrics import (
        BatchMetricsListener,
    )

    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for i in range(7):
            f.write(json.dumps({"value": str(i)}) + "\n")

    raw = StructType([StructField("value", StringType())])
    q = (
        spark.readStream.schema(raw)
        .json(src)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # listener events are delivered asynchronously off the query
        # thread — poll briefly
        for _ in range(40):
            if listener.total_rows >= 7:
                break
            time.sleep(0.25)
        assert listener.total_rows >= 7
        assert any(e["batch_id"] == 0 for e in listener.history)
    finally:
        q.stop()
        spark.streams.removeListener(listener)


def test_idempotent_sink_across_restart(spark, tmp_path):
    """End-to-end exactly-once: a streaming query writing through the
    idempotent sink is stopped and restarted from its checkpoint; the
    committed output contains each input row exactly once even though
    restarts re-run foreachBatch deliveries."""
    from pyspark.sql.types import StringType, StructField, StructType

    from kafka2clickhouse_py_streamer_spark.streaming.exactly_once import (
        idempotent_parquet_sink,
        read_idempotent,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    dest = str(tmp_path / "out")
    sink = idempotent_parquet_sink(dest)
    raw = StructType([StructField("value", StringType())])

    # empty sink dir: schema'd read returns an empty frame (startup race)
    assert read_idempotent(spark, dest, "value string").count() == 0

    def run_once():
        q = (
            spark.readStream.schema(raw)
            .json(src)
            .writeStream.foreachBatch(lambda df, bid: sink(df, bid))
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(json.dumps({"value": "r1"}) + "\n")
        f.write(json.dumps({"value": "r2"}) + "\n")
    run_once()
    with open(os.path.join(src, "b.json"), "w") as f:
        f.write(json.dumps({"value": "r3"}) + "\n")
    run_once()

    got = sorted(
        r["value"] for r in read_idempotent(spark, dest).select("value").collect()
    )
    assert got == ["r1", "r2", "r3"]


def test_available_now_catchup_terminates(spark, tmp_path):
    """Catch-up mode (Trigger.AvailableNow): processes the backlog in
    bounded micro-batches, terminates on its own, and shares the
    continuous mode's checkpoint — so a later catch-up run only sees
    new files."""
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    with open(src / "a.txt", "w") as f:
        f.write(GOOD)

    def run_catchup():
        stream = spark.readStream.format("text").load(str(src))
        sink, dlq = ListSink(), ListSink()
        job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
        q = job.start(stream, ckpt, available_now=True)
        q.awaitTermination(60)  # terminates by itself in catch-up mode
        assert not q.isActive
        return sink.rows

    assert len(run_catchup()) == 1
    with open(src / "b.txt", "w") as f:
        f.write(json.dumps({"device_id": 7}))
    second = run_catchup()
    assert [r.device_id for r in second] == [7]  # backlog not replayed


def test_p09_streaming_admission_matches_batch(spark, tmp_path):
    """The incremental-refresh operator under readStream: arrivals
    stream in micro-batches, each foreachBatch anti-joins against the
    static corpus fingerprints and a cross-batch seen-set (the batch
    twin's within-batch dedup, carried as state) — the union of admitted
    docs equals the batch p09 output regardless of micro-batch cuts."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.llm.sampling import (
        ARRIVAL_BUCKET,
        _bucket,
        p09_incremental_refresh,
    )
    from kafka2clickhouse_py_streamer_spark.operators.base import table

    sf = "/root/testdata/sf0.001"
    d = table(spark, sf, "documents").select(
        "doc_id", "source", "text", _bucket(F.col("doc_id")).alias("b")
    )
    corpus_fp = d.filter(F.col("b") < ARRIVAL_BUCKET).select(
        F.md5("text").alias("fp")
    )
    # stream the arrivals in TWO files to force multiple micro-batches,
    # in doc_id order: the stream's first-seen-wins dedup equals the
    # batch twin's min-doc_id-wins exactly when arrival order follows
    # doc_id (true for an append-only ingest key; an out-of-order
    # deployment would tie-break inside the state update instead)
    arrivals = (
        d.filter(F.col("b") >= ARRIVAL_BUCKET)
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .collect()
    )
    src = tmp_path / "arrivals"
    src.mkdir()
    half = len(arrivals) // 2
    for i, chunk in enumerate((arrivals[:half], arrivals[half:])):
        spark.createDataFrame(chunk).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    admitted: list = []
    seen_fps: set = set()

    def admit(batch_df, _id):
        fresh = (
            batch_df.withColumn("fp", F.md5("text"))
            .join(corpus_fp, "fp", "left_anti")
            .collect()
        )
        # cross-batch keep-first on content (driver-side state here;
        # a deployment uses dropDuplicates-within-watermark or a
        # state-store keyed on fp)
        for r in sorted(fresh, key=lambda r: r.doc_id):
            if r.fp not in seen_fps:
                seen_fps.add(r.fp)
                admitted.append(r.doc_id)

    stream = spark.readStream.schema(
        "doc_id long, source string, text string"
    ).parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(admit)
        .option("checkpointLocation", str(tmp_path / "ckpt_p09"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_ids = [
        r.doc_id for r in p09_incremental_refresh(spark, sf).collect()
    ]
    assert sorted(admitted) == batch_ids


def test_w06_hll_runs_live_under_readstream(spark, tmp_path):
    """w06's production claim, exercised live: approx_count_distinct in
    a watermarked tumbling-window aggregation under readStream (append
    mode). The streamed HLL estimates must equal the batch HLL on the
    same data — the sketch is deterministic — for every window the
    watermark finalized."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.operators.base import table

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "events").select("ts", "user_id")
    src = str(tmp_path / "events_w06")
    e.coalesce(1).write.mode("overwrite").parquet(src)

    es = spark.readStream.schema(e.schema).parquet(src)
    agg = (
        es.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", 0.02).alias("hll_users"))
        .select(F.col("w.start").alias("window_start"), "hll_users")
    )
    batches: list[list] = []
    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: batches.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_w06"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        (r.window_start, r.hll_users) for b in batches for r in b
    }
    assert streamed, "watermark must finalize at least one window"
    batch = {
        (r.window_start, r.hll_users)
        for r in e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", 0.02).alias("hll_users"))
        .select(F.col("w.start").alias("window_start"), "hll_users")
        .collect()
    }
    # append mode only emits windows the watermark closed; every emitted
    # window must match the batch sketch exactly (HLL is deterministic)
    assert streamed <= batch


def test_w07_topk_runs_live_under_readstream(spark, tmp_path):
    """w07's streaming posture, exercised live: the watermarked
    windowed count agg runs under readStream (append mode), and the
    rank-and-cut runs per emitted batch in foreachBatch — a window the
    watermark finalized is complete, so ranking it in the batch step
    must reproduce the batch w07 rows for that window exactly."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.operators.base import table

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "events").select("ts", "event_type")
    src = str(tmp_path / "events_w07")
    e.coalesce(1).write.mode("overwrite").parquet(src)

    es = spark.readStream.schema(e.schema).parquet(src)
    agg = (
        es.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    streamed: set = set()

    def rank_batch(df, _id):
        rk = F.row_number().over(
            W.partitionBy("window_start").orderBy(
                F.desc("n_events"), F.asc_nulls_last("event_type")
            )
        )
        top = df.withColumn("rank", rk).filter(F.col("rank") <= 3)
        streamed.update(
            (r.window_start, r.rank, r.event_type, r.n_events)
            for r in top.collect()
        )

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(rank_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_w07"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert streamed, "watermark must finalize at least one window"
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        w07_window_topk,
    )

    batch = {
        (r.window_start, r.rank, r.event_type, r.n_events)
        for r in w07_window_topk(spark, sf).collect()
    }
    # append mode emits only watermark-closed windows; each closed
    # window's ranking must equal the batch twin's rows for that window
    assert streamed <= batch


def test_live_smoke_probe_rows_route_correctly(spark):
    """The live smoke's generated rows, driven through the SAME
    pipeline core the deployment runs: every valid row must land in
    the sink, every DLQ probe must land in the DLQ with an error —
    offline proof the smoke can't fail against healthy infrastructure
    (its probes genuinely violate the schema) nor pass vacuously."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from live_smoke import build_probe_rows

    rows, n_probes = build_probe_rows(SCHEMA, n_rows=5, with_dlq=True)
    # UInt32 + Float32 columns exist and device_id is required -> both
    # probe variants must have been generated
    assert n_probes == 2
    sink, dlq = ListSink(), ListSink()
    job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
    job.run_batch(make_batch(spark, rows))
    assert len(sink.rows) == 5  # all valid rows admitted
    assert len(dlq.rows) == n_probes  # every probe rejected
    assert all(r.error for r in dlq.rows)


def test_live_smoke_no_probe_for_all_string_schema():
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from kafka2clickhouse_py_streamer_spark.schema.clickhouse import (
        build_table_schema,
    )
    from live_smoke import build_probe_rows

    lax = build_table_schema([("a", "String"), ("b", "String")])
    rows, n_probes = build_probe_rows(lax, n_rows=3, with_dlq=True)
    assert n_probes == 0 and len(rows) == 3


def test_d01_streaming_dedup_matches_batch(spark, tmp_path):
    """Exact dedup under readStream: documents stream in micro-batches
    through the foreachBatch admitter with a persisted digest state —
    the union of admitted (fp, doc_id) must equal batch d01's
    (fp, canonical_id) regardless of where the micro-batch cuts fall,
    given doc_id-ordered arrival (append-only ingest key)."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.llm.dedup import d01_exact_dedup
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        dedup_admit_batch,
    )

    sf = "/root/testdata/sf0.001"
    docs = (
        table(spark, sf, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    src = tmp_path / "docs_stream"
    src.mkdir()
    third = len(docs) // 3
    for chunk in (docs[:third], docs[third : 2 * third], docs[2 * third :]):
        spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    out = str(tmp_path / "admitted")
    state = str(tmp_path / "fp_state")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    q = start_batches(
        stream, dedup_admit_batch, str(tmp_path / "ckpt_d01"),
        out_dir=out, state_dir=state,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        (r.fp, r.doc_id)
        for r in spark.read.parquet(out).select("fp", "doc_id").collect()
    }
    batch = {
        (r.fp, r.canonical_id) for r in d01_exact_dedup(spark, sf).collect()
    }
    assert streamed == batch
    # state carries exactly the admitted digests, one per unique doc
    n_state = spark.read.parquet(state).select("fp").distinct().count()
    assert n_state == len(batch)


def test_d01_streaming_dedup_replay_idempotent(spark, tmp_path):
    """foreachBatch re-delivery (restart between sink write and offset
    commit) must not double-admit: re-running the admitter with the
    SAME batch_id overwrites its own partition and leaves output and
    state unchanged."""
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        dedup_admit_batch,
    )

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(4, "beta"), (5, "gamma")], "doc_id long, text string"
    )
    dedup_admit_batch(b0, 0, out, state)
    dedup_admit_batch(b1, 1, out, state)
    first = sorted(
        (r.doc_id, r.batch_id) for r in spark.read.parquet(out).collect()
    )
    # batch 0 keeps min-id per fp (1, 3); batch 1 admits only gamma (5)
    assert first == [(1, 0), (3, 0), (5, 1)]
    dedup_admit_batch(b1, 1, out, state)  # replayed delivery
    again = sorted(
        (r.doc_id, r.batch_id) for r in spark.read.parquet(out).collect()
    )
    assert again == first
    assert spark.read.parquet(state).count() == 3


def test_batch_entry_points_leave_session_conf_alone(spark, tmp_path):
    """A foreachBatch entry point runs on the caller's session, so its
    replay-safe dynamic overwrite must be a per-write option. Setting
    ``spark.sql.sources.partitionOverwriteMode`` on the session instead
    turns the caller's next static overwrite into a dynamic one, which
    keeps stale partitions."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        dedup_admit_batch,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        countmin_update_batch,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    cm_state = str(tmp_path / "cm_state")
    out, fp_state = str(tmp_path / "out"), str(tmp_path / "fp_state")
    events = spark.createDataFrame(
        [(i, i % 3) for i in range(9)], "event_id long, user_id long"
    )
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    for _ in range(2):  # a delivery and its replay
        countmin_update_batch(events, 0, cm_state)
        dedup_admit_batch(docs, 0, out, fp_state)
    assert spark.conf.get(key) == before
    # one delivery: each sketch row counts every key once
    cm = spark.read.parquet(cm_state)
    assert cm.filter("j = 0").agg(F.sum("cell")).first()[0] == 9
    assert spark.read.parquet(out).count() == 2
    assert spark.read.parquet(fp_state).count() == 2

    # the caller's own static overwrite still truncates the table
    t = str(tmp_path / "static")
    for rows in ([(1, "a"), (2, "b")], [(3, "c"), (4, "d")]):
        spark.createDataFrame(rows, "x long, p string").write.mode(
            "overwrite"
        ).partitionBy("p").parquet(t)
    assert spark.read.parquet(t).count() == 2


def test_d14_streaming_neardup_matches_batch(spark, tmp_path):
    """Near-dup admission under readStream: documents stream in THREE
    genuine micro-batches (maxFilesPerTrigger=1) through the greedy
    LSH bucket-claim admitter with a persisted band-key claim table.
    The admitted set must equal batch d14's admitted predicate exactly
    — the bucket-claim decision is independent of micro-batch cuts for
    id-ordered arrival because claims come from SEEN docs, not
    admitted ones."""
    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        d14_lsh_admission,
    )
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        neardup_admit_batch,
    )

    sf = "/root/testdata/sf0.001"
    docs = (
        table(spark, sf, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    src = tmp_path / "neardup_stream"
    src.mkdir()
    third = len(docs) // 3
    for chunk in (docs[:third], docs[third : 2 * third], docs[2 * third :]):
        spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    out = str(tmp_path / "nd_admitted")
    state = str(tmp_path / "band_state")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_batches(
        stream, neardup_admit_batch, str(tmp_path / "ckpt_d14"),
        out_dir=out, state_dir=state,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    }
    batch = {
        r.doc_id
        for r in d14_lsh_admission(spark, sf).filter("admitted").collect()
    }
    assert streamed == batch
    # the claim table carries every SEEN doc's bands, not only admitted
    n_claims = spark.read.parquet(state).count()
    from kafka2clickhouse_py_streamer_spark.llm.dedup import BANDS

    assert n_claims == len(docs) * BANDS


def test_d14_streaming_neardup_replay_idempotent(spark, tmp_path):
    """Re-delivering a micro-batch with the same batch_id (restart
    between sink write and offset commit) must leave admitted output
    and claim state unchanged — and a doc identical to an earlier
    batch's doc must be blocked by the persisted claims."""
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        neardup_admit_batch,
    )

    out, state = str(tmp_path / "nd_out"), str(tmp_path / "nd_state")
    b0 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words in this second document"),
        ],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [
            (3, "the quick brown fox jumps over the lazy dog"),  # dup of 1
            (4, "novel content that matches nothing seen before"),
        ],
        "doc_id long, text string",
    )
    neardup_admit_batch(b0, 0, out, state)
    neardup_admit_batch(b1, 1, out, state)
    first = sorted(
        (r.doc_id, r.batch_id) for r in spark.read.parquet(out).collect()
    )
    # doc 3 shares every band with doc 1 -> blocked by state claims
    assert first == [(1, 0), (2, 0), (4, 1)]
    neardup_admit_batch(b1, 1, out, state)  # replayed delivery
    again = sorted(
        (r.doc_id, r.batch_id) for r in spark.read.parquet(out).collect()
    )
    assert again == first


def test_d14_compaction_during_live_stream(spark, tmp_path):
    """The real maintenance-window scenario (round-4 verdict #7):
    ``state.compact`` runs WHILE the near-dup admission stream is
    live — after its first two micro-batches commit, between triggers,
    with the StreamingQuery still active — and the remaining batches
    then process against the compacted claim partition. Admission
    decisions must be byte-identical to batch d14's predicate, exactly
    as in the uncompacted twin."""
    import os

    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        d14_lsh_admission,
    )
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from pyspark.sql import DataFrame

    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        neardup_admit_batch,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import compact

    sf = "/root/testdata/sf0.001"
    docs = (
        table(spark, sf, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    third = len(docs) // 3
    chunks = (docs[:third], docs[third : 2 * third], docs[2 * third :])

    src = tmp_path / "live_compact_src"
    src.mkdir()
    for chunk in chunks[:2]:  # only the first two files exist at start
        spark.createDataFrame(chunk).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    out = str(tmp_path / "live_compact_out")
    state = str(tmp_path / "live_compact_state")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_batches(
        stream, neardup_admit_batch, str(tmp_path / "ckpt_live_compact"),
        out_dir=out, state_dir=state,
    )
    try:
        q.processAllAvailable()  # batches 0 and 1 committed
        # maintenance window: the query is STILL ACTIVE, idle between
        # triggers — fold the two committed partitions
        assert q.isActive
        removed = compact(spark, state, 1, DataFrame.distinct)
        assert removed == 2
        parts = {
            p for p in os.listdir(state) if p.startswith("batch_id=")
        }
        assert parts == {"batch_id=-1"}
        # the stream resumes over the compacted state
        spark.createDataFrame(chunks[2]).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    }
    batch = {
        r.doc_id
        for r in d14_lsh_admission(spark, sf).filter("admitted").collect()
    }
    assert streamed == batch


def test_compaction_killed_mid_fold_recovers_and_preserves_admission(
    spark, tmp_path
):
    """Kill the compactor at BOTH sides of its commit point via the
    fault-injection seam (the deterministic stand-in for a process
    death the soak also drives end-to-end): a pre-marker kill rolls
    back (sources untouched), a post-marker kill leaves a mid-swap
    state that admission can still read (the dot-prefixed temp is
    invisible), and the next maintenance call rolls forward — the
    probe batch admits identically to the never-crashed twin."""
    from pyspark.sql import DataFrame

    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        dedup_admit_batch,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import (
        CompactionCrash,
        compact,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different words in this second document"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "novel content that matches nothing seen before"),
    ]
    probe = [
        (7, "the quick brown fox jumps over the lazy dog"),  # dup of 1
        (8, "entirely fresh text no prior batch ever claimed"),
    ]

    def run(tag, crash_point):
        out = str(tmp_path / f"{tag}_o")
        state = str(tmp_path / f"{tag}_s")
        for bid, lo, hi in ((0, 0, 2), (1, 2, 4)):
            dedup_admit_batch(
                spark.createDataFrame(
                    rows[lo:hi], "doc_id long, text string"
                ),
                bid, out, state,
            )
        if crash_point:
            with pytest.raises(CompactionCrash):
                compact(
                    spark, state, 1, DataFrame.distinct,
                    _crash_point=crash_point,
                )
            # mid-swap (or rolled-back) state is still readable by
            # admission: the NEXT batch runs over it untouched
            dedup_admit_batch(
                spark.createDataFrame(
                    [(6, "yet another unique closing document")],
                    "doc_id long, text string",
                ),
                2, out, state,
            )
        removed = compact(spark, state, 2, DataFrame.distinct)
        assert removed > 0
        dedup_admit_batch(
            spark.createDataFrame(probe, "doc_id long, text string"),
            3, out, state,
        )
        return sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        )

    clean = run("clean", None)
    for crash_point in ("before_marker", "after_marker"):
        got = run(crash_point, crash_point)
        # id 6 only exists in the crashed runs' extra batch
        assert [d for d in got if d != 6] == clean, (crash_point, got)
        assert 7 not in got and 8 in got


def test_state_compaction_preserves_admission(spark, tmp_path):
    """Folding committed per-batch state partitions into the compacted
    partition must change NOTHING about subsequent admission decisions
    — for both state layouts (exact-dedup digests and near-dup band
    claims) — while removing the per-batch small partitions."""
    from pyspark.sql import DataFrame

    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        dedup_admit_batch,
        neardup_admit_batch,
    )
    from kafka2clickhouse_py_streamer_spark.streaming import state as store

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different words in this second document"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "novel content that matches nothing seen before"),
        (5, "completely different words in this second document"),
        (6, "yet another unique closing document of the fixture"),
    ]
    probe = [
        (7, "the quick brown fox jumps over the lazy dog"),  # dup of 1
        (8, "entirely fresh text no prior batch ever claimed"),
    ]

    def run(admit, out, state, compact):
        for bid, lo, hi in ((0, 0, 2), (1, 2, 4), (2, 4, 6)):
            admit(
                spark.createDataFrame(
                    rows[lo:hi], "doc_id long, text string"
                ),
                bid, out, state,
            )
        if compact:
            removed = store.compact(spark, state, 2, DataFrame.distinct)
            assert removed == 3
        admit(
            spark.createDataFrame(probe, "doc_id long, text string"),
            3, out, state,
        )
        return sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        )

    for admit in (dedup_admit_batch, neardup_admit_batch):
        name = admit.__name__
        plain = run(
            admit, str(tmp_path / f"{name}_o1"),
            str(tmp_path / f"{name}_s1"), compact=False,
        )
        compacted = run(
            admit, str(tmp_path / f"{name}_o2"),
            str(tmp_path / f"{name}_s2"), compact=True,
        )
        assert compacted == plain == [1, 2, 4, 6, 8]
        # the compacted state holds ONE batch partition for batches<=2
        # (-1) plus the probe batch's own partition
        import os

        parts = {
            p for p in os.listdir(str(tmp_path / f"{name}_s2"))
            if p.startswith("batch_id=")
        }
        assert parts == {"batch_id=-1", "batch_id=3"}


def test_state_compaction_is_repeatable(spark, tmp_path):
    """Compacting twice (the second time folding the previous compacted
    partition together with newer batches) keeps the claim SET stable
    — repeated maintenance can't lose or duplicate state."""
    from pyspark.sql import DataFrame

    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        dedup_admit_batch,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import compact

    out, state = str(tmp_path / "rc_out"), str(tmp_path / "rc_state")
    for bid, text in ((0, "aaa"), (1, "bbb"), (2, "ccc")):
        dedup_admit_batch(
            spark.createDataFrame(
                [(bid * 10, text)], "doc_id long, text string"
            ),
            bid, out, state,
        )
    compact(spark, state, 1, DataFrame.distinct)
    fps_mid = {
        r.fp for r in spark.read.parquet(state).select("fp").collect()
    }
    compact(spark, state, 2, DataFrame.distinct)
    fps_end = {
        r.fp for r in spark.read.parquet(state).select("fp").collect()
    }
    assert fps_mid == fps_end and len(fps_end) == 3


def test_t09_streaming_scrub_matches_batch(spark, tmp_path):
    """The PII scrub is a pure projection, so the SAME scrub_pii code
    runs under readStream: streamed clean_text/counts must equal the
    batch transformation row-for-row over any micro-batch cut."""
    from kafka2clickhouse_py_streamer_spark.llm.text import scrub_pii
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        scrub_stream,
    )

    rows = [
        (1, "mail me at a.b+c@example.org today"),
        (2, "call 555-123-4567 or 555-000-1111"),
        (3, "server at 10.1.2.3 and backup 192.168.0.1"),
        (4, "no pii here"),
        (5, "mixed x@y.io 1.2.3.4 555-999-0000"),
    ]
    src = tmp_path / "scrub_stream"
    src.mkdir()
    for chunk in (rows[:2], rows[2:]):
        spark.createDataFrame(
            chunk, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    q = (
        scrub_stream(stream)
        .writeStream.format("memory")
        .queryName("t09_twin")
        .option("checkpointLocation", str(tmp_path / "ckpt_t09"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        tuple(r)
        for r in spark.sql(
            "SELECT doc_id, clean_text, n_emails, n_phones, n_ips "
            "FROM t09_twin"
        ).collect()
    }
    batch_df = scrub_pii(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    batch = {
        tuple(r)
        for r in batch_df.select(
            "doc_id", "clean_text", "n_emails", "n_phones", "n_ips"
        ).collect()
    }
    assert streamed == batch
    # the synthetic rows exercise every pattern
    agg = batch_df.groupBy().sum("n_emails", "n_phones", "n_ips").first()
    assert all(v > 0 for v in agg)


def test_live_smoke_end_to_end_if_infra_present():
    """The live Kafka→pipeline→warehouse checklist, one `docker compose
    up` from proof: when the live-infra env vars are set this RUNS
    tools/live_smoke.py in-process and requires exit 0; in the sandbox
    (no broker, no warehouse) it skips with the gating reason. Keeps
    the deployment path a first-class test instead of a script nobody
    runs."""
    import os
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import live_smoke

    missing = [v for v in live_smoke.REQUIRED if not os.environ.get(v)]
    if missing:
        pytest.skip(f"live infra not configured (missing env {missing})")
    assert live_smoke.main() == 0


def test_w10_anomaly_scores_streamed_rollup(spark, tmp_path):
    """w10's streaming posture, exercised live: the watermarked hourly
    count rollup runs under readStream (append mode — only watermark-
    closed hours emit), accumulating into a rollup store; the z-score
    pass then runs over the STORED rollup. Because the trailing-24h
    frame only looks backward, every score computed on the streamed
    prefix must equal the batch w10 row for that hour exactly."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.operators.base import table

    sf = "/root/testdata/sf0.001"
    e = (
        table(spark, sf, "events")
        .filter(F.col("ts").isNotNull())
        .select("ts", "event_type")
    )
    src = str(tmp_path / "events_w10")
    e.coalesce(1).write.mode("overwrite").parquet(src)

    es = spark.readStream.schema(e.schema).parquet(src)
    agg = (
        es.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("h"), "event_type", "n")
    )
    rollup: list = []

    def store_batch(df, _id):
        rollup.extend((r.event_type, r.h, r.n) for r in df.collect())

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(store_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_w10"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert rollup, "watermark must finalize at least one hourly window"

    stored = spark.createDataFrame(rollup, ["event_type", "h", "n"])
    tw = W.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    nn = F.col("n").cast("double")
    z = (nn - F.avg(nn).over(tw)) / F.nullif(
        F.stddev_samp(nn).over(tw), F.lit(0.0)
    )
    scored = {
        (r.event_type, r.h, r.n, r.z)
        for r in stored.select(
            "event_type", "h", "n", F.round(z, 4).alias("z")
        ).collect()
    }

    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        w10_rate_anomaly,
    )

    batch = {
        (r.event_type, r.hour_start, r.n_events, r.z_score)
        for r in w10_rate_anomaly(spark, sf).collect()
    }
    # streamed rollup is the watermark-closed prefix; backward-looking
    # frames mean every streamed score must match its batch twin
    assert scored <= batch


def test_d15_streaming_semdedup_matches_batch(spark, tmp_path):
    """Semantic admission under readStream: embeddings stream in three
    genuine micro-batches (maxFilesPerTrigger=1) through the
    vector-state admitter. The admitted set must equal batch d15's
    kept set exactly — the pessimistic predicate is cut-independent
    for id-ordered arrival because the state carries every SEEN
    vector, not only admitted ones."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.functions import (
        l2_norm,
        to_double_vec,
        valid_embeddings,
    )
    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        DIM,
        _base,
        _bucket_expr,
        semdedup_pruned,
    )
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        start_streaming_semdedup,
    )

    sf = "/root/testdata/sf0.001"
    em = table(spark, sf, "embeddings").orderBy("vec_id").collect()
    src = tmp_path / "semdedup_stream"
    src.mkdir()
    third = len(em) // 3
    for chunk in (em[:third], em[third : 2 * third], em[2 * third :]):
        spark.createDataFrame(
            chunk, table(spark, sf, "embeddings").schema
        ).coalesce(1).write.mode("append").parquet(str(src))

    out = str(tmp_path / "sd_admitted")
    state = str(tmp_path / "vec_state")
    stream = (
        spark.readStream.schema(table(spark, sf, "embeddings").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    # n_planes passed explicitly: the stream-lifetime sizing decision
    # is the documented contract (defaulting warns); at fixture scale
    # planes_for(~500) == MIN_PLANES, matching batch d15's derivation
    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        MIN_PLANES,
    )

    q = start_streaming_semdedup(
        stream, out, state, str(tmp_path / "ckpt_d15"),
        n_planes=MIN_PLANES,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()
    }
    tagged = _base(spark, sf).select(
        "vec_id", "v", "norm", _bucket_expr().alias("bucket")
    )
    all_valid = {r.vec_id for r in tagged.select("vec_id").collect()}
    pruned = {r.vec_id for r in semdedup_pruned(tagged).collect()}
    assert streamed == all_valid - pruned
    # the vector state carries every SEEN valid vector, admitted or not
    assert spark.read.parquet(state).count() == len(all_valid)


def test_d15_streaming_semdedup_default_planes_warns(spark, tmp_path):
    """Leaving n_planes unset on start_streaming_semdedup must warn:
    the default (MIN_PLANES → 16 buckets for the stream's lifetime)
    re-creates the quadratic occupancy trap batch d15 auto-avoids, so
    the silent default was downgraded to a warned default (round-12
    ADVICE). The sizing decision is the stream-lifetime contract."""
    import warnings

    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        start_streaming_semdedup,
    )

    sf = "/root/testdata/sf0.001"
    schema = table(spark, sf, "embeddings").schema
    src = tmp_path / "warn_src"
    src.mkdir()
    table(spark, sf, "embeddings").limit(5).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        q = start_streaming_semdedup(
            stream,
            str(tmp_path / "warn_out"),
            str(tmp_path / "warn_state"),
            str(tmp_path / "warn_ckpt"),
        )
        q.stop()
    assert any(
        "n_planes" in str(w.message) and "planes_for" in str(w.message)
        for w in caught
    ), [str(w.message) for w in caught]


def test_d15_streaming_semdedup_replay_idempotent(spark, tmp_path):
    """Re-delivering a micro-batch (the at-least-once contract after a
    checkpoint restart) must overwrite its own state/output partition,
    not double-admit or double-claim."""
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        semdedup_admit_batch,
    )

    sf = "/root/testdata/sf0.001"
    em = table(spark, sf, "embeddings").limit(40)
    out = str(tmp_path / "sd_out")
    state = str(tmp_path / "sd_state")
    semdedup_admit_batch(em, 0, out, state)
    first_out = {r.vec_id for r in spark.read.parquet(out).collect()}
    first_state = spark.read.parquet(state).count()
    semdedup_admit_batch(em, 0, out, state)  # replay of batch 0
    assert {
        r.vec_id for r in spark.read.parquet(out).collect()
    } == first_out
    assert spark.read.parquet(state).count() == first_state


def test_semdedup_raises_on_out_of_order_batch(spark, tmp_path):
    """The incremental semantic admitter's cut-independence holds only
    for increasing vec_id across batches (documented precondition).
    Delivering a batch whose min vec_id is <= the state's high-water
    mark must RAISE (round-4 advice: fail loudly, never silently
    diverge from batch d15) — and a replay of the SAME batch must NOT
    trip the check (its own partition is self-excluded)."""
    import pytest

    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        semdedup_admit_batch,
    )

    sf = "/root/testdata/sf0.001"
    em = table(spark, sf, "embeddings")
    first = em.filter("vec_id < 30")
    out = str(tmp_path / "ooo_out")
    state = str(tmp_path / "ooo_state")
    semdedup_admit_batch(first, 0, out, state)
    # replay of batch 0 (same ids, same batch_id): allowed
    semdedup_admit_batch(first, 0, out, state)
    # a NEW batch re-delivering already-seen ids: loud failure
    with pytest.raises(ValueError, match="out-of-order"):
        semdedup_admit_batch(em.filter("vec_id < 10"), 1, out, state)
    # in-order continuation still works
    semdedup_admit_batch(
        em.filter("vec_id >= 30 and vec_id < 50"), 1, out, state
    )


def test_admitters_raise_on_wrong_state_schema(spark, tmp_path):
    """A state_dir misconfigured to point at a DIFFERENT operator's
    state table must RAISE, not silently degrade to first-batch
    behavior and re-admit duplicates (a bare except AnalysisException
    would swallow the schema error — the guard is scoped to the
    missing-path error class only)."""
    import pytest

    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        semdedup_admit_batch,
    )

    sf = "/root/testdata/sf0.001"
    em = table(spark, sf, "embeddings").limit(20)
    out = str(tmp_path / "out")
    wrong_state = str(tmp_path / "wrong_state")
    # a digest-style state table: wrong schema for the vector admitter
    spark.createDataFrame(
        [("abc", 0)], "fp string, batch_id int"
    ).write.partitionBy("batch_id").parquet(wrong_state)
    with pytest.raises(Exception):
        semdedup_admit_batch(em, 1, out, wrong_state)


def test_t17_streaming_chunking_matches_batch(spark, tmp_path):
    """Chunking is a stateless projection+explode, so the SAME
    chunk_passages code runs under readStream: streamed chunks must
    equal the batch transformation row-for-row over any micro-batch
    cut."""
    from kafka2clickhouse_py_streamer_spark.llm.text import (
        chunk_passages,
    )

    rows = [
        (1, " ".join(f"w{i}" for i in range(100))),  # 4 chunks
        (2, "short doc"),                            # 1 chunk
        (3, " ".join(f"x{i}" for i in range(40))),   # 2 chunks
        (4, "   "),                                  # excluded
    ]
    src = tmp_path / "chunk_stream"
    src.mkdir()
    for chunk in (rows[:2], rows[2:]):
        spark.createDataFrame(
            chunk, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    q = (
        chunk_passages(stream)
        .writeStream.format("memory")
        .queryName("t17_twin")
        .option("checkpointLocation", str(tmp_path / "ckpt_t17"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        tuple(r) for r in spark.sql("select * from t17_twin").collect()
    }
    batch = {
        tuple(r)
        for r in chunk_passages(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert streamed == batch and len(batch) == 7


def _chunk_pack_fixture_docs():
    return [
        (1, " ".join(f"w{i}" for i in range(100))),  # 4 chunks
        (2, "short doc"),
        (3, " ".join(f"x{i}" for i in range(40))),   # 2 chunks
        (4, " ".join(f"y{i}" for i in range(70))),   # 3 chunks
        (5, " ".join(f"z{i}" for i in range(33))),   # 2 chunks
        (6, "tail words"),
    ]


def _chunk_pack_batch_expect(spark, rows, budget, n_shards):
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.llm.sampling import (
        chunk_pack_batch,
    )
    from kafka2clickhouse_py_streamer_spark.llm.text import chunk_passages

    chunks = chunk_passages(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).select(
        (F.col("doc_id") % n_shards).cast("long").alias("shard"),
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
    )
    return {tuple(r) for r in chunk_pack_batch(chunks, budget).collect()}


def test_chunk_pack_stream_matches_batch(spark, tmp_path):
    """The composed chunk→pack twin (round-5 verdict item 5): t17's
    chunk projection feeding the stateful per-shard packer under
    readStream must equal the batch p17 composition row-for-row over a
    micro-batch cut, with offsets continuous across the boundary."""
    from kafka2clickhouse_py_streamer_spark.streaming.stateful import (
        streaming_chunk_packer,
    )

    rows = _chunk_pack_fixture_docs()
    src = tmp_path / "cp_stream"
    src.mkdir()
    for chunk in (rows[:3], rows[3:]):
        spark.createDataFrame(
            chunk, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    batches: list[list] = []
    q = (
        streaming_chunk_packer(stream, budget=64, n_shards=2)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: batches.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {tuple(r) for b in batches for r in b}
    expect = _chunk_pack_batch_expect(spark, rows, 64, 2)
    assert streamed == expect
    # the cut fell between docs 3 and 4: doc 4's chunks (shard 0) must
    # have continued shard 0's offset, not restarted at 0
    d4 = sorted(t for t in streamed if t[1] == 4)
    assert d4[0][4] > 0  # stream_offset carried across the batch cut


def test_chunk_pack_replay_idempotent(spark, tmp_path):
    """Replay idempotence: killing the query after batch 1 and
    restarting from the checkpoint must (a) not re-emit batch-1 rows
    and (b) continue the per-shard offsets exactly where the state
    store left them — together with the twin test this is the
    recovery contract a continuously-fed shard writer needs."""
    from kafka2clickhouse_py_streamer_spark.streaming.stateful import (
        streaming_chunk_packer,
    )

    rows = _chunk_pack_fixture_docs()
    src = tmp_path / "cp_replay"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_cp_replay")

    def start(sink: list):
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).parquet(str(src))
        return (
            streaming_chunk_packer(stream, budget=64, n_shards=2)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _id: sink.append(df.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )

    first: list[list] = []
    spark.createDataFrame(
        rows[:3], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = start(first)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    second: list[list] = []
    spark.createDataFrame(
        rows[3:], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = start(second)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got_first = {tuple(r) for b in first for r in b}
    got_second = {tuple(r) for b in second for r in b}
    # restart emitted ONLY the new docs — no batch-1 replay
    assert {t[1] for t in got_second} == {4, 5, 6}
    assert not (got_first & got_second)
    # and the union equals the batch composition (offsets continued)
    expect = _chunk_pack_batch_expect(spark, rows, 64, 2)
    assert got_first | got_second == expect


def test_w13_streaming_histogram_matches_batch(spark, tmp_path):
    """The histogram sketch's streaming payoff is that it needs NO
    custom state at all: cells merge by addition, which is exactly
    what a built-in streaming groupBy-count aggregation maintains —
    the final complete-mode cells over three genuine micro-batches
    must equal the batch `hist_cells` wherever the cuts fall
    (addition commutes). NaN/NULL drop and ±Inf clamping ride the
    same single-source binning expression."""
    import math

    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        hist_cells,
    )

    vals = [
        [1.5, 17.0, None, 300.0],
        [float("nan"), 1e15, -5.0, 17.2],
        [float("inf"), 0.0, 511.9, 44.4],
    ]
    src = tmp_path / "w13_stream"
    src.mkdir()
    for chunk in vals:
        spark.createDataFrame(
            [(v,) for v in chunk], "value double"
        ).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("value double").parquet(str(src))
    q = (
        hist_cells(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("w13_twin")
        .option("checkpointLocation", str(tmp_path / "ckpt_w13"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        (r.bin, r.cnt)
        for r in spark.sql("select * from w13_twin").collect()
    }
    flat = [v for chunk in vals for v in chunk]
    batch = {
        (r.bin, r.cnt)
        for r in hist_cells(
            spark.createDataFrame([(v,) for v in flat], "value double")
        ).collect()
    }
    assert streamed == batch
    n_clean = sum(
        1 for v in flat if v is not None and not math.isnan(v)
    )
    assert sum(c for _, c in batch) == n_clean


def test_w12_streaming_sketch_matches_batch(spark, tmp_path):
    """Count-min's streaming payoff: sketches merge by cell-wise
    addition, so the estimates from a sketch built in THREE genuine
    micro-batches equal the batch w12 estimates for EVERY user —
    wherever the cuts fall, with no ordering precondition (addition
    commutes, unlike the admission operators)."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        w12_countmin_heavyhitters,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        countmin_estimates,
        countmin_update_batch,
    )

    sf = "/root/testdata/sf0.001"
    ev = (
        table(spark, sf, "events")
        .select("event_id", "user_id")
        .orderBy("event_id")
        .collect()
    )
    src = tmp_path / "cm_stream"
    src.mkdir()
    third = len(ev) // 3
    for chunk in (ev[:third], ev[third : 2 * third], ev[2 * third :]):
        spark.createDataFrame(chunk).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    state = str(tmp_path / "cm_state")
    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_batches(
        stream, countmin_update_batch, str(tmp_path / "ckpt_cm"),
        state_dir=state,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    users = (
        table(spark, sf, "events")
        .select("user_id")
        .filter("user_id is not null")
        .distinct()
    )
    streamed = {
        r.user_id: r.est
        for r in countmin_estimates(spark, state, users).collect()
    }
    # batch w12 reports the top-10 with exact counts; its estimates
    # must agree with the streamed sketch on those users
    for r in w12_countmin_heavyhitters(spark, sf).collect():
        assert streamed[r.user_id] == r.est, r
    # ...and the streamed estimate never underestimates any user
    exact = {
        r.user_id: r.n
        for r in table(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r.user_id is not None
    }
    assert all(streamed[u] >= exact[u] for u in exact)


def test_w13_persisted_histogram_matches_batch_and_compacts(
    spark, tmp_path
):
    """The persisted-state histogram (count-min's state contract
    applied to w13's quantile grid): estimates over a sketch built in
    three genuine micro-batches equal the batch w13 estimates
    exactly; re-delivering a batch overwrites its own partition (no
    double counting); the bin-wise SUM compaction fold leaves
    every quantile estimate unchanged."""
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        w13_histogram_quantiles,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        hist_quantile_estimates,
        hist_update_batch,
        merge_hist,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import compact

    sf = "/root/testdata/sf0.001"
    ev = (
        table(spark, sf, "events")
        .select("event_id", "value")
        .orderBy("event_id")
        .collect()
    )
    src = tmp_path / "h_stream"
    src.mkdir()
    third = len(ev) // 3
    chunks = (ev[:third], ev[third : 2 * third], ev[2 * third :])
    for chunk in chunks:
        spark.createDataFrame(
            chunk, "event_id long, value double"
        ).coalesce(1).write.mode("append").parquet(str(src))

    state = str(tmp_path / "h_state")
    stream = (
        spark.readStream.schema("event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_batches(
        stream, hist_update_batch, str(tmp_path / "ckpt_h"), state_dir=state
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def ests():
        return {
            r.q: (r.n, round(r.raw_est, 6))
            for r in hist_quantile_estimates(spark, state).collect()
        }

    streamed = ests()
    batch = {
        r.q: (r.n_values, r.est_q)
        for r in w13_histogram_quantiles(spark, sf).collect()
    }
    assert streamed == batch

    # replay: rewrite batch 1's partition with the same data — the
    # dynamic overwrite must leave the merged histogram unchanged
    replay_df = spark.createDataFrame(
        chunks[1], "event_id long, value double"
    )
    hist_update_batch(replay_df, 1, state)
    assert ests() == batch

    # compaction folds the per-batch partitions; estimates unchanged
    removed = compact(spark, state, 2, merge_hist)
    assert removed > 0
    assert ests() == batch


def test_w12_streaming_sketch_replay_and_compaction(spark, tmp_path):
    """Re-delivering a micro-batch overwrites its own cell partition
    (no double counting), and the cell-wise SUM compaction fold leaves
    every estimate unchanged while collapsing the per-batch
    partitions."""
    import os

    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        countmin_estimates,
        countmin_update_batch,
        merge_cells,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import compact

    state = str(tmp_path / "cmr_state")
    b0 = spark.createDataFrame(
        [(i, i % 5) for i in range(50)], "event_id long, user_id long"
    )
    b1 = spark.createDataFrame(
        [(i, i % 7) for i in range(35)], "event_id long, user_id long"
    )
    b2 = spark.createDataFrame(
        [(i, 3) for i in range(10)], "event_id long, user_id long"
    )
    countmin_update_batch(b0, 0, state)
    countmin_update_batch(b1, 1, state)
    countmin_update_batch(b1, 1, state)  # replay: same batch_id
    countmin_update_batch(b2, 2, state)

    users = spark.createDataFrame(
        [(u,) for u in range(7)], "user_id long"
    )
    before = {
        r.user_id: r.est
        for r in countmin_estimates(spark, state, users).collect()
    }
    # serial exact counts: replay must NOT have double-counted b1
    exact = {u: 0 for u in range(7)}
    for i in range(50):
        exact[i % 5] += 1
    for i in range(35):
        exact[i % 7] += 1
    exact[3] += 10
    assert all(before[u] >= exact[u] for u in exact)

    removed = compact(spark, state, 1, merge_cells)
    assert removed == 2
    parts = {
        p for p in os.listdir(state) if p.startswith("batch_id=")
    }
    assert parts == {"batch_id=-1", "batch_id=2"}
    after = {
        r.user_id: r.est
        for r in countmin_estimates(spark, state, users).collect()
    }
    assert after == before
    # repeated compaction (folding the compacted partition again) is
    # stable too
    compact(spark, state, 2, merge_cells)
    again = {
        r.user_id: r.est
        for r in countmin_estimates(spark, state, users).collect()
    }
    assert again == before
    assert merge_cells(spark.read.parquet(state)).count() <= 3 * 16


def test_compaction_crash_recovery(spark, tmp_path):
    """A compaction interrupted at either side of its commit point
    must repair on the next maintenance call: an UNCOMMITTED temp
    fold rolls back (state untouched), a COMMITTED one rolls forward
    (estimates identical to an uninterrupted compaction)."""
    import os

    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        countmin_estimates,
        countmin_update_batch,
        merge_cells,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import (
        _fs,
        _recover_compaction,
        compact,
    )

    state = str(tmp_path / "crash_state")
    for bid, mod in ((0, 5), (1, 7), (2, 3)):
        countmin_update_batch(
            spark.createDataFrame(
                [(i, i % mod) for i in range(40)],
                "event_id long, user_id long",
            ),
            bid,
            state,
        )
    users = spark.createDataFrame(
        [(u,) for u in range(7)], "user_id long"
    )
    before = {
        r.user_id: r.est
        for r in countmin_estimates(spark, state, users).collect()
    }

    # (a) crash BEFORE the commit marker: junk temp, no _through_ file
    os.makedirs(os.path.join(state, ".compact_tmp"))
    with open(
        os.path.join(state, ".compact_tmp", "part-junk.parquet"), "wb"
    ) as f:
        f.write(b"not a fold")
    assert _recover_compaction(spark, state) == "back"
    assert not os.path.exists(os.path.join(state, ".compact_tmp"))
    assert {
        r.user_id: r.est
        for r in countmin_estimates(spark, state, users).collect()
    } == before

    # (b) crash AFTER the commit marker but before delete/rename:
    # materialize a real fold + marker by hand, leave sources in place
    from pyspark.sql import functions as F

    jvm, fs, _root = _fs(spark, state)
    folded = (
        spark.read.parquet(state)
        .filter(F.col("batch_id") <= 1)
        .groupBy("j", "bucket")
        .agg(F.sum("cell").alias("cell"))
    )
    tmp = os.path.join(state, ".compact_tmp")
    folded.write.mode("overwrite").parquet(tmp)
    fs.create(
        jvm.org.apache.hadoop.fs.Path(tmp, "_through_1"), True
    ).close()
    # the next maintenance call repairs, then compacts the rest
    removed = compact(spark, state, 2, merge_cells)
    parts = {
        p for p in os.listdir(state) if p.startswith("batch_id=")
    }
    assert parts == {"batch_id=-1"}, (removed, parts)
    assert {
        r.user_id: r.est
        for r in countmin_estimates(spark, state, users).collect()
    } == before


def test_compaction_of_compacted_state_is_a_no_op(spark, tmp_path):
    """Once only the compacted partition remains, a further compaction
    reads and writes nothing and reports 0 partitions folded: every
    file keeps its name and mtime, and the state keeps its rows."""
    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        countmin_update_batch,
        merge_cells,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import compact

    state = str(tmp_path / "refold_state")
    for bid, mod in ((0, 5), (1, 7), (2, 3)):
        countmin_update_batch(
            spark.createDataFrame(
                [(i, i % mod) for i in range(40)],
                "event_id long, user_id long",
            ),
            bid,
            state,
        )
    assert compact(spark, state, 2, merge_cells) == 3

    def snapshot():
        files = {
            os.path.relpath(os.path.join(d, f), state): os.stat(
                os.path.join(d, f)
            ).st_mtime_ns
            for d, _, names in os.walk(state)
            for f in names
        }
        rows = sorted(map(tuple, spark.read.parquet(state).collect()))
        return files, rows

    before = snapshot()
    assert compact(spark, state, 2, merge_cells) == 0
    assert snapshot() == before


def test_countmin_estimates_unseen_key_is_zero(spark, tmp_path):
    """A key the stream never saw must estimate 0 (count-min's min
    over its cells, some of which have no row) — the inner-join form
    either dropped such keys or overestimated from the surviving cell
    subset (round-5 review find)."""
    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        countmin_estimates,
        countmin_update_batch,
    )

    state = str(tmp_path / "unseen_state")
    countmin_update_batch(
        spark.createDataFrame(
            [(i, 1) for i in range(9)], "event_id long, user_id long"
        ),
        0,
        state,
    )
    got = {
        r.user_id: r.est
        for r in countmin_estimates(
            spark,
            state,
            spark.createDataFrame(
                [(1,), (424242,)], "user_id long"
            ),
        ).collect()
    }
    assert set(got) == {1, 424242}  # the unseen key is NOT dropped
    assert got[1] >= 9
    # a single-key sketch leaves most cells empty, so an unseen key
    # whose cells miss the populated ones estimates exactly 0 (unless
    # it collides on ALL rows, which 424242 does not with key 1)
    assert got[424242] == 0


def test_w14_streaming_decayed_cells_match_batch(spark, tmp_path):
    """The decayed-rate cells are additive (sum of per-event exp
    weights against a FIXED reference instant), so the identical
    `decayed_cells` expression under a complete-mode streaming groupBy
    over genuine micro-batches must equal the batch cells exactly —
    including the null-timestamp drop and a null event_type group."""
    import datetime

    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        decayed_cells,
    )

    t0 = datetime.datetime(2024, 3, 1)

    def ts(h):
        return t0 + datetime.timedelta(hours=h)

    chunks = [
        [(ts(0), "view"), (ts(6), "view"), (None, "view")],
        [(ts(12), "click"), (ts(3), None), (ts(12), "view")],
        [(ts(9), "click"), (ts(1), "purchase")],
    ]
    src = tmp_path / "w14_stream"
    src.mkdir()
    for chunk in chunks:
        spark.createDataFrame(
            chunk, "ts timestamp, event_type string"
        ).coalesce(1).write.mode("append").parquet(str(src))

    flat = [r for chunk in chunks for r in chunk]
    t_ref_us = int(ts(12).timestamp() * 1_000_000)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .parquet(str(src))
        .withColumn("t_ref_us", F.lit(t_ref_us))
    )
    q = (
        decayed_cells(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("w14_twin")
        .option("checkpointLocation", str(tmp_path / "ckpt_w14"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        (r.event_type, r.n_events, round(r.decayed_raw, 9))
        for r in spark.sql("select * from w14_twin").collect()
    }
    batch = {
        (r.event_type, r.n_events, round(r.decayed_raw, 9))
        for r in decayed_cells(
            spark.createDataFrame(
                flat, "ts timestamp, event_type string"
            ).withColumn("t_ref_us", F.lit(t_ref_us))
        ).collect()
    }
    assert streamed == batch
    # null-ts dropped; null event_type kept as its own group
    assert sum(n for _, n, _ in batch) == 7
    assert any(k is None for k, _, _ in batch)


def _rag_fixture_docs():
    base = " ".join(f"w{i}" for i in range(100))  # 4 chunks at size 32
    return [
        (1, base),
        (2, "short doc"),
        (3, base),           # within-batch exact dup of doc 1
        (4, " ".join(f"y{i}" for i in range(70))),
        (5, base),           # cross-batch dup of doc 1
        (6, "short doc"),    # cross-batch dup of doc 2
        (7, " ".join(f"z{i}" for i in range(33))),
    ]


_RAG_COLS = [
    "shard", "doc_id", "chunk_id", "n_chunk_tokens",
    "stream_offset", "pack_id", "offset_in_pack",
]


def test_rag_ingest_stream_matches_batch_p19(spark, tmp_path):
    """The streaming RAG ingest (chunk → persisted-fp chunk dedup →
    per-shard packing with persisted offsets) over a 2-batch cut must
    equal the batch p19 composition (`chunk_dedup_pack`) row-for-row —
    dedup keep-first holds ACROSS the cut (docs 5/6 duplicate batch-1
    content and must vanish) and pack offsets continue where batch 1's
    admitted mass ended."""
    from kafka2clickhouse_py_streamer_spark.llm.sampling import (
        chunk_dedup_pack,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        rag_ingest_batch,
    )

    rows = _rag_fixture_docs()
    src = tmp_path / "rag_src"
    src.mkdir()
    for chunk in (rows[:4], rows[4:]):
        spark.createDataFrame(
            chunk, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(str(src))

    out = str(tmp_path / "rag_out")
    state = str(tmp_path / "rag_state")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    q = start_batches(
        stream, rag_ingest_batch, str(tmp_path / "rag_ckpt"),
        out_dir=out, state_dir=state, budget=64, n_shards=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        tuple(r)
        for r in spark.read.parquet(out).select(*_RAG_COLS).collect()
    }
    batch = {
        tuple(r)
        for r in chunk_dedup_pack(
            spark.createDataFrame(rows, "doc_id long, text string"),
            budget=64, n_shards=2,
        ).select(*_RAG_COLS).collect()
    }
    assert streamed == batch
    # the cross-batch duplicates really were dropped by the fp state
    assert not {t[1] for t in streamed} & {3, 5, 6}
    # batch-2 survivors continued shard offsets (doc 7, shard 1,
    # follows doc 1's four chunks on shard 1)
    d7 = sorted(t for t in streamed if t[1] == 7)
    assert d7 and d7[0][4] > 0


def test_rag_ingest_replay_idempotent(spark, tmp_path):
    """Replaying a micro-batch (same batch_id) must be a no-op: the
    admitted set, offsets, and all three partitioned writes land
    identically — the foreachBatch recovery contract."""
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        rag_ingest_batch,
    )

    rows = _rag_fixture_docs()
    out = str(tmp_path / "rag_out2")
    state = str(tmp_path / "rag_state2")
    b0 = spark.createDataFrame(rows[:4], "doc_id long, text string")
    b1 = spark.createDataFrame(rows[4:], "doc_id long, text string")
    rag_ingest_batch(b0, 0, out, state, budget=64, n_shards=2)
    rag_ingest_batch(b1, 1, out, state, budget=64, n_shards=2)
    before = {
        tuple(r)
        for r in spark.read.parquet(out).select(*_RAG_COLS).collect()
    }
    rag_ingest_batch(b1, 1, out, state, budget=64, n_shards=2)  # replay
    after = {
        tuple(r)
        for r in spark.read.parquet(out).select(*_RAG_COLS).collect()
    }
    assert before == after


def test_index_ingest_matches_batch_assignment(spark, tmp_path):
    """Streaming ANN-index ingest: cells assigned per micro-batch with
    the frozen trained centroids must equal the batch assignment over
    the same rows, regardless of where the batch boundary falls."""
    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        N_QUERIES,
        _assign_cell_df,
        _base,
        _train_centroids,
    )
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        index_ingest_batch,
    )

    sf = "/root/testdata/sf0.001"
    base = _base(spark, sf)
    cents = _train_centroids(base, sf)
    em = table(spark, sf, "embeddings").filter(f"vec_id >= {N_QUERIES}")
    idx = str(tmp_path / "ivf_index")
    index_ingest_batch(em.filter("vec_id < 250"), 0, idx, cents)
    index_ingest_batch(em.filter("vec_id >= 250"), 1, idx, cents)
    streamed = {
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(idx).select("vec_id", "cell").collect()
    }
    from pyspark.sql import functions as F

    expected = {
        (r.vec_id, int(r.cell))
        for r in _assign_cell_df(
            base.filter(F.col("vec_id") >= N_QUERIES), cents
        ).select("vec_id", "cell").collect()
    }
    assert streamed == expected and len(streamed) > 0


def test_index_ingest_replay_idempotent(spark, tmp_path):
    """Re-delivering an index-ingest micro-batch overwrites its own
    (cell, batch_id) partitions — assignment is deterministic in
    (vector, centroids), so replay never duplicates index entries."""
    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        N_QUERIES,
        _base,
        _train_centroids,
    )
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        index_ingest_batch,
    )

    sf = "/root/testdata/sf0.001"
    cents = _train_centroids(_base(spark, sf), sf)
    em = table(spark, sf, "embeddings").filter(
        f"vec_id >= {N_QUERIES} and vec_id < 100"
    )
    idx = str(tmp_path / "ivf_index_r")
    index_ingest_batch(em, 0, idx, cents)
    first = {
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(idx).select("vec_id", "cell").collect()
    }
    index_ingest_batch(em, 0, idx, cents)  # replay of batch 0
    again = {
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(idx).select("vec_id", "cell").collect()
    }
    assert again == first


def test_streamed_index_query_matches_s05(spark, tmp_path):
    """Querying the PERSISTED streamed index (cell equi-join after
    partition pruning) returns exactly the batch s05 IVF result — the
    index built incrementally is the same index s05 computes on the
    fly. Also pins that a cell-filtered read of the index prunes at
    the partition level (cell is a partition column, not a row
    filter)."""
    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        N_QUERIES,
        _base,
        _train_centroids,
        s05_trained_ivf,
    )
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.plans.analysis import (
        formatted_plan,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        index_ingest_batch,
        query_streamed_index,
    )

    sf = "/root/testdata/sf0.001"
    cents = _train_centroids(_base(spark, sf), sf)
    em = table(spark, sf, "embeddings")
    corpus = em.filter(f"vec_id >= {N_QUERIES}")
    idx = str(tmp_path / "ivf_index_q")
    index_ingest_batch(corpus.filter("vec_id < 300"), 0, idx, cents)
    index_ingest_batch(corpus.filter("vec_id >= 300"), 1, idx, cents)

    got = [
        (r.query_id, r.cand_id, int(r.cell), r.cosine, r.rk)
        for r in query_streamed_index(
            spark, idx, em.filter(f"vec_id < {N_QUERIES}"), cents
        ).collect()
    ]
    want = [
        (r.query_id, r.cand_id, int(r.cell), r.cosine, r.rk)
        for r in s05_trained_ivf(spark, sf).collect()
    ]
    assert got == want and len(got) > 0

    from pyspark.sql import functions as F

    one_cell = spark.read.parquet(idx).filter(F.col("cell") == 0)
    plan = formatted_plan(one_cell)
    assert "PartitionFilters" in plan and "cell" in plan


def test_compact_index_folds_per_cell_and_preserves_queries(spark, tmp_path):
    """Index compaction folds each cell's committed batch partitions
    into one compacted partition (batch_id=-1) per cell, leaves
    uncommitted batches untouched, and changes NO query result —
    including after further ingest on top of the compacted index."""
    import os

    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        N_QUERIES,
        _base,
        _train_centroids,
        s05_trained_ivf,
    )
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        compact_index,
        index_ingest_batch,
        query_streamed_index,
    )

    sf = "/root/testdata/sf0.001"
    cents = _train_centroids(_base(spark, sf), sf)
    em = table(spark, sf, "embeddings")
    corpus = em.filter(f"vec_id >= {N_QUERIES}")
    queries = em.filter(f"vec_id < {N_QUERIES}")
    idx = str(tmp_path / "ivf_index_c")
    index_ingest_batch(corpus.filter("vec_id < 150"), 0, idx, cents)
    index_ingest_batch(
        corpus.filter("vec_id >= 150 and vec_id < 300"), 1, idx, cents
    )
    index_ingest_batch(corpus.filter("vec_id >= 300"), 2, idx, cents)

    before = [
        tuple(r)
        for r in query_streamed_index(spark, idx, queries, cents).collect()
    ]
    removed = compact_index(spark, idx, through_batch=1)
    assert removed > 0
    # re-compaction folds only the already-compacted partitions: the
    # count of PER-BATCH partitions removed must report 0
    assert compact_index(spark, idx, through_batch=1) == 0
    # every cell dir: batches 0/1 folded into batch_id=-1, batch 2 kept
    for cell_dir in os.listdir(idx):
        if not cell_dir.startswith("cell="):
            continue
        bids = sorted(
            d for d in os.listdir(os.path.join(idx, cell_dir))
            if d.startswith("batch_id=")
        )
        assert "batch_id=0" not in bids and "batch_id=1" not in bids
        assert "batch_id=-1" in bids
    after = [
        tuple(r)
        for r in query_streamed_index(spark, idx, queries, cents).collect()
    ]
    assert after == before
    # the compacted index still equals batch s05 exactly
    want = [tuple(r) for r in s05_trained_ivf(spark, sf).collect()]
    got = [
        (r.query_id, r.cand_id, r.cell, r.cosine, r.rk)
        for r in query_streamed_index(spark, idx, queries, cents).collect()
    ]
    assert [
        (q, c, int(cl), co, rk) for q, c, cl, co, rk in got
    ] == [
        (r[0], r[1], int(r[2]), r[3], r[4]) for r in want
    ]


def test_compact_index_crash_mid_swap_recovers(spark, tmp_path):
    """compact_index killed AFTER the first foldable cell's commit
    marker (one cell mid-swap with a complete temp fold + untouched
    sources, sibling cells unfolded — the partial-maintenance crash):
    queries over the mid-swap index are unchanged (the dot-prefixed
    temp is invisible, sources still listed); further ingest lands on
    top of the mid-swap state; the next compact_index call rolls the
    crashed cell FORWARD and folds the rest, ending at exactly one
    compacted partition per cell with the index content intact. The
    at-scale twin of this arm runs in tools/streaming_soak.py
    (SOAK_r12+, round-11 verdict order 6)."""
    import os

    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        N_QUERIES,
        _base,
        _train_centroids,
    )
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        compact_index,
        index_ingest_batch,
        query_streamed_index,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import (
        COMPACTED_BATCH_ID,
        CompactionCrash,
    )

    sf = "/root/testdata/sf0.001"
    cents = _train_centroids(_base(spark, sf), sf)
    em = table(spark, sf, "embeddings")
    corpus = em.filter(f"vec_id >= {N_QUERIES}")
    queries = em.filter(f"vec_id < {N_QUERIES}")
    idx = str(tmp_path / "ivf_index_crash")
    index_ingest_batch(corpus.filter("vec_id < 200"), 0, idx, cents)
    index_ingest_batch(
        corpus.filter("vec_id >= 200 and vec_id < 350"), 1, idx, cents
    )

    def probe():
        return [
            tuple(r)
            for r in query_streamed_index(
                spark, idx, queries, cents
            ).collect()
        ]

    def content():
        return {
            (r.vec_id, int(r.cell))
            for r in spark.read.parquet(idx)
            .select("vec_id", "cell").collect()
        }

    before_probe, before_content = probe(), content()
    with pytest.raises(CompactionCrash):
        compact_index(spark, idx, 1, _crash_point="after_marker")
    # exactly one cell carries the mid-swap temp; queries see sources
    tmps = [
        c for c in os.listdir(idx)
        if c.startswith("cell=")
        and ".compact_tmp" in os.listdir(os.path.join(idx, c))
    ]
    assert len(tmps) == 1
    assert probe() == before_probe and content() == before_content
    # ingest OVER the mid-swap index, then recover + fold everything
    index_ingest_batch(corpus.filter("vec_id >= 350"), 2, idx, cents)
    assert compact_index(spark, idx, 1) > 0  # rolls forward + folds
    compact_index(spark, idx, 2)
    for cell_dir in os.listdir(idx):
        if not cell_dir.startswith("cell="):
            continue
        bids = sorted(
            d for d in os.listdir(os.path.join(idx, cell_dir))
            if d.startswith("batch_id=")
        )
        assert bids == [f"batch_id={COMPACTED_BATCH_ID}"], (
            cell_dir, bids,
        )
    full_content = {
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(idx).select("vec_id", "cell").collect()
    }
    assert before_content <= full_content
    assert len({v for v, _ in full_content}) == len(full_content)
    # the recovered+compacted index answers exactly like a one-shot
    # batch-built index over the same corpus (batch 2's candidates
    # may legitimately change top-k vs before_probe)
    twin = str(tmp_path / "ivf_index_twin")
    index_ingest_batch(corpus, 0, twin, cents)
    want = [
        tuple(r)
        for r in query_streamed_index(spark, twin, queries, cents).collect()
    ]
    assert probe() == want


def test_index_ingest_rejects_empty_centroids(spark, tmp_path):
    """Bootstrap guard: an empty centroid set (no training data yet)
    must fail loudly at ingest — silently writing nothing would drop
    the batch — while the query side returns s05's typed empty
    frame."""
    import pytest

    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        index_ingest_batch,
        query_streamed_index,
    )

    sf = "/root/testdata/sf0.001"
    em = table(spark, sf, "embeddings").limit(5)
    idx = str(tmp_path / "empty_idx")
    with pytest.raises(ValueError, match="empty centroid set"):
        index_ingest_batch(em, 0, idx, {})
    empty = query_streamed_index(spark, idx, em, {})
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "cand_id", "cell", "cosine", "rk",
    ]


def test_w14_persisted_decay_matches_batch_and_compacts(spark, tmp_path):
    """The persisted-state decayed-rate counters: three micro-batches
    of per-batch-relative masses, re-referenced and merged at read
    time, match batch w14 (n_events exactly; decayed mass to FP
    re-referencing tolerance — exp(a)·exp(b) vs exp(a+b)); replay
    overwrites its own partition; the re-referencing compaction fold
    leaves every estimate unchanged."""
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        w14_decayed_rate,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        decay_update_batch,
        decayed_rate_estimates,
        merge_decayed,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import compact

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    ev = (
        table(spark, sf, "events")
        .select("ts", "event_type")
        .orderBy(F.col("ts").asc_nulls_first())
        .collect()
    )
    src = tmp_path / "dk_stream"
    src.mkdir()
    third = len(ev) // 3
    chunks = (ev[:third], ev[third: 2 * third], ev[2 * third:])
    for chunk in chunks:
        spark.createDataFrame(
            chunk, "ts timestamp, event_type string"
        ).coalesce(1).write.mode("append").parquet(str(src))

    state = str(tmp_path / "dk_state")
    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_batches(
        stream, decay_update_batch, str(tmp_path / "ckpt_dk"),
        state_dir=state,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch = {
        r.event_type: (r.n_events, r.decayed_count, r.freshness)
        for r in w14_decayed_rate(spark, sf).collect()
    }

    def close(got):
        assert set(got) == set(batch)
        for k, (n, dc, fr) in got.items():
            bn, bdc, bfr = batch[k]
            assert n == bn
            assert abs(dc - bdc) < 1e-5
            assert abs(fr - bfr) < 1e-5

    def ests():
        return {
            r.event_type: (r.n_events, r.decayed_count, r.freshness)
            for r in decayed_rate_estimates(spark, state).collect()
        }

    close(ests())

    # replay of batch 1: dynamic overwrite, merged counters unchanged
    decay_update_batch(
        spark.createDataFrame(chunks[1], "ts timestamp, event_type string"),
        1,
        state,
    )
    close(ests())

    # re-referencing compaction fold: estimates unchanged
    removed = compact(spark, state, 1, merge_decayed)
    assert removed > 0
    close(ests())
    # and the tail batch keeps merging on top of the compacted base
    assert (
        spark.read.parquet(state)
        .select("batch_id").distinct().count() == 2
    )


def test_streaming_exact_dedup_generalizes_to_media_payloads(
    spark, tmp_path
):
    """m05's streaming form needs no new admitter: dedup_admit_batch's
    fingerprint column works on BINARY payloads (md5 accepts binary),
    so the persisted-digest admission contract carries over verbatim —
    first batch seen wins across batches, min-id within a batch."""
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        dedup_admit_batch,
    )

    rows = [
        (1, bytearray(b"\x00\x01frame-A")),
        (2, bytearray(b"\x00\x01frame-A")),  # within-batch dup of 1
        (3, bytearray(b"\xff\xfe;frame-B")),
    ]
    later = [
        (4, bytearray(b"\x00\x01frame-A")),  # cross-batch dup of 1
        (5, bytearray(b"frame-C")),
    ]
    out = str(tmp_path / "m_out")
    state = str(tmp_path / "m_state")
    schema = "media_id long, payload binary"
    dedup_admit_batch(
        spark.createDataFrame(rows, schema), 0, out, state,
        id_col="media_id", text_col="payload",
    )
    dedup_admit_batch(
        spark.createDataFrame(later, schema), 1, out, state,
        id_col="media_id", text_col="payload",
    )
    admitted = {
        r.media_id for r in spark.read.parquet(out).collect()
    }
    assert admitted == {1, 3, 5}


def test_w15_persisted_hll_matches_batch_and_compacts(spark, tmp_path):
    """The persisted-state HLL (count-min's state contract applied to
    w15's registers, merge = MAX): estimates over registers built in
    three genuine micro-batches equal the batch w15 estimates exactly
    (including the max-merged '<ALL>' scope); re-delivering a batch
    overwrites its own partition; the register-wise
    MAX fold leaves every estimate unchanged."""
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        w15_hll_distinct,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        hll_distinct_estimates,
        hll_update_batch,
        merge_registers,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import compact

    sf = "/root/testdata/sf0.001"
    ev = (
        table(spark, sf, "events")
        .select("event_id", "event_type", "user_id")
        .orderBy("event_id")
        .collect()
    )
    src = tmp_path / "hll_stream"
    src.mkdir()
    third = len(ev) // 3
    chunks = (ev[:third], ev[third : 2 * third], ev[2 * third :])
    schema = "event_id long, event_type string, user_id long"
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    state = str(tmp_path / "hll_state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_batches(
        stream, hll_update_batch, str(tmp_path / "ckpt_hll"),
        state_dir=state,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def ests():
        return {
            r.scope: (r.n_regs_touched, r.est_distinct)
            for r in hll_distinct_estimates(spark, state).collect()
        }

    streamed = ests()
    batch = {
        r.scope: (r.n_regs_touched, r.est_distinct)
        for r in w15_hll_distinct(spark, sf).collect()
    }
    assert streamed == batch
    assert "<ALL>" in streamed

    # replay: rewrite batch 1's partition with the same data — the
    # dynamic overwrite (and MAX's idempotence) leaves merges unchanged
    hll_update_batch(spark.createDataFrame(chunks[1], schema), 1, state)
    assert ests() == batch

    # compaction folds the per-batch partitions; estimates unchanged
    removed = compact(spark, state, 2, merge_registers)
    assert removed > 0
    assert ests() == batch


def test_asof_stream_matches_batch_q26_and_compacts(spark, tmp_path):
    """The streamed as-of enrichment: one interleaved (dims + facts)
    stream cut into three time-ordered micro-batches yields EXACTLY
    batch q26 over the full input (same shared carry core, persisted
    dimension state); re-delivering a batch overwrites its own out +
    state partitions (no dup rows, same totals); the
    SCD-frontier fold leaves the enrichment of post-watermark facts
    provably unchanged (checked against an uncompacted state copy)."""
    import datetime
    import shutil

    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.operators.joins import (
        q26_asof_join,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.asof_stream import (
        ASOF_STREAM_SCHEMA,
        asof_enrich_batch,
        asof_frontier,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import compact

    sf = "/root/testdata/sf0.001"
    ev = table(spark, sf, "events").selectExpr(
        "1 AS is_event", "event_id", "user_id", "ts",
        "CAST(NULL AS LONG) AS o_custkey",
        "CAST(NULL AS LONG) AS o_orderkey",
        "CAST(NULL AS TIMESTAMP) AS o_orderdate",
        "CAST(NULL AS DOUBLE) AS o_totalprice",
    )
    od = table(spark, sf, "orders").selectExpr(
        "0 AS is_event",
        "CAST(NULL AS LONG) AS event_id",
        "CAST(NULL AS LONG) AS user_id",
        "CAST(NULL AS TIMESTAMP) AS ts",
        "o_custkey", "o_orderkey",
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_totalprice",
    )
    # time-ordered interleave across kinds (dims first on ties — the
    # ordering contract); null-time rows lead (they enrich nothing)
    rows = sorted(
        ev.unionByName(od).collect(),
        key=lambda r: (
            (r.ts if r.is_event else r.o_orderdate) is not None,
            (r.ts if r.is_event else r.o_orderdate)
            or datetime.datetime.min,
            r.is_event,
        ),
    )
    src = tmp_path / "asof_src"
    src.mkdir()
    third = len(rows) // 3
    chunks = (rows[:third], rows[third : 2 * third], rows[2 * third :])
    for c in chunks:
        spark.createDataFrame(c, ASOF_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(str(src))

    out = str(tmp_path / "asof_out")
    state = str(tmp_path / "asof_state")
    stream = (
        spark.readStream.schema(ASOF_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_batches(
        stream, asof_enrich_batch, str(tmp_path / "ckpt_asof"),
        out_dir=out, state_dir=state,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def collect_out():
        return {
            r.event_id: (r.user_id, r.o_orderkey,
                         r.o_orderdate, r.o_totalprice)
            for r in spark.read.parquet(out).collect()
        }

    streamed = collect_out()
    batch = {
        r.event_id: (r.user_id, r.o_orderkey,
                     r.o_orderdate, r.o_totalprice)
        for r in q26_asof_join(spark, sf).collect()
    }
    assert streamed == batch and batch

    # replay batch 1: partitions overwritten, result identical
    asof_enrich_batch(
        spark.createDataFrame(chunks[1], ASOF_STREAM_SCHEMA),
        1, out, state,
    )
    assert collect_out() == batch

    # compaction: SCD frontier under a watermark between the dims —
    # post-watermark facts enrich identically to the uncompacted state
    state_copy = str(tmp_path / "asof_state_copy")
    shutil.copytree(state, state_copy)
    dims = [r for c in chunks for r in c if r.is_event == 0]
    w_mark = sorted(
        d.o_orderdate for d in dims if d.o_orderdate is not None
    )[len(dims) // 2]
    removed = compact(
        spark, state, 2, lambda s: asof_frontier(s, w_mark)
    )
    assert removed > 0
    t_late = max(
        r.ts for c in chunks for r in c
        if r.is_event and r.ts is not None
    ) + datetime.timedelta(hours=1)
    late_users = sorted({d.o_custkey for d in dims})[:8]
    late = [
        (1, 9_000_000 + i, u, t_late + datetime.timedelta(minutes=i),
         None, None, None, None)
        for i, u in enumerate(late_users)
    ]
    late_df = spark.createDataFrame(late, ASOF_STREAM_SCHEMA)
    out_c = str(tmp_path / "late_c")
    out_u = str(tmp_path / "late_u")
    asof_enrich_batch(late_df, 3, out_c, state)
    asof_enrich_batch(late_df, 3, out_u, state_copy)
    got_c = {
        r.event_id: (r.o_orderkey, r.o_orderdate, r.o_totalprice)
        for r in spark.read.parquet(out_c).collect()
    }
    got_u = {
        r.event_id: (r.o_orderkey, r.o_orderdate, r.o_totalprice)
        for r in spark.read.parquet(out_u).collect()
    }
    assert got_c == got_u and got_c


def test_q65_persisted_distinct_curve_matches_batch_and_compacts(
    spark, tmp_path
):
    """The persisted exact distinct-curve state (q65's streaming twin,
    and w15's exact counterpart): the curve over pairs/grid state
    built in three time-ordered micro-batches equals batch q65
    exactly; a re-delivered batch overwrites its own partitions; the
    DISTINCT/identity compaction folds leave the curve unchanged.
    Also pins the state trade the HLL exists for: pairs state is one
    row per distinct (scope, user)."""
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.operators.windows import (
        q65_running_distinct,
    )
    from pyspark.sql import DataFrame

    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        distinct_curve,
        distinct_curve_batch,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import compact

    sf = "/root/testdata/sf0.001"
    ev = (
        table(spark, sf, "events")
        .select("event_id", "event_type", "user_id", "ts")
        .filter("ts IS NOT NULL")
        .orderBy("ts", "event_id")  # time-ordered cuts: the contract
        .collect()
    )
    schema = (
        "event_id long, event_type string, user_id long, ts timestamp"
    )
    src = tmp_path / "dc_stream"
    src.mkdir()
    third = len(ev) // 3
    chunks = (ev[:third], ev[third : 2 * third], ev[2 * third :])
    for c in chunks:
        spark.createDataFrame(c, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    state = str(tmp_path / "dc_state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_batches(
        stream, distinct_curve_batch, str(tmp_path / "ckpt_dc"),
        state_dir=state,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def curve():
        return [
            (r.event_type, r.hour_start, r.new_users, r.cum_users)
            for r in distinct_curve(spark, state).collect()
        ]

    batch = [
        (r.event_type, r.hour_start, r.new_users, r.cum_users)
        for r in q65_running_distinct(spark, sf).collect()
    ]
    assert curve() == batch and batch

    # exact state is one row per distinct (scope, user) — the cost the
    # w15 registers avoid
    pairs = spark.read.parquet(state + "/pairs")
    n_pairs = (
        table(spark, sf, "events")
        .filter("ts IS NOT NULL AND user_id IS NOT NULL")
        .select("event_type", "user_id")
        .distinct()
        .count()
    )
    assert pairs.count() == n_pairs

    # replay batch 1: own partitions overwritten, curve unchanged
    distinct_curve_batch(
        spark.createDataFrame(chunks[1], schema), 1, state
    )
    assert curve() == batch

    # compaction folds both state tables; curve unchanged
    removed = compact(
        spark, state + "/pairs", 2, lambda s: s
    ) + compact(spark, state + "/grid", 2, DataFrame.distinct)
    assert removed > 0
    assert curve() == batch


def test_w16_profile_sketch_streams_and_compacts(spark, tmp_path):
    """The column-profile sketch under foreachBatch: profile_keyed is
    a pure projection, so hll_update_batch(profile_keyed(batch),
    key_col='k', scope_col='scope') maintains exactly the batch w16
    register frame — estimates over three genuine micro-batches equal
    batch w16 (every column scope + the max-merged '<ALL>'), replay
    overwrites its own partition, and the MAX-fold compaction leaves
    every estimate unchanged."""
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        profile_keyed,
        w16_profile_sketch,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        hll_distinct_estimates,
        hll_update_batch,
        merge_registers,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import compact

    sf = "/root/testdata/sf0.001"
    cols = ["event_id", "ts", "user_id", "event_type", "props"]
    ev = table(spark, sf, "events").select(*cols).orderBy("event_id").collect()
    schema = ("event_id long, ts timestamp, user_id long,"
              " event_type string, props string")
    src = tmp_path / "w16_stream"
    src.mkdir()
    third = len(ev) // 3
    chunks = (ev[:third], ev[third : 2 * third], ev[2 * third :])
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    state = str(tmp_path / "w16_state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: hll_update_batch(
                profile_keyed(df), bid, state,
                key_col="k", scope_col="scope",
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_w16"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def ests():
        return {
            r.scope: (r.n_regs_touched, r.est_distinct)
            for r in hll_distinct_estimates(spark, state).collect()
        }

    streamed = ests()
    batch = {
        r.scope: (r.n_regs_touched, r.est_distinct)
        for r in w16_profile_sketch(spark, sf).collect()
    }
    assert streamed == batch
    assert set(streamed) == set(cols) | {"<ALL>"}

    # replay batch 1: dynamic overwrite + MAX idempotence
    hll_update_batch(
        profile_keyed(spark.createDataFrame(chunks[1], schema)),
        1, state, key_col="k", scope_col="scope",
    )
    assert ests() == batch

    removed = compact(spark, state, 2, merge_registers)
    assert removed > 0
    assert ests() == batch


def test_fan_out_spreads_narrow_batch(spark):
    """A 1-partition micro-batch must reach the sink spread across
    cores (the r9 parity_1p fix: validate/cast otherwise run on one
    core per trigger); a batch already at least that wide is left
    alone."""
    widths = []

    def width_sink(df):
        widths.append(df.rdd.getNumPartitions())

    job = PipelineJob(StaticSchemaProvider(SCHEMA), width_sink, ListSink())
    narrow = make_batch(spark, [GOOD] * 100).coalesce(1)
    job.run_batch(narrow)
    expect = min(spark.sparkContext.defaultParallelism, 8)
    assert widths[-1] == expect

    wide = make_batch(spark, [GOOD] * 100).repartition(16)
    job.run_batch(wide)
    assert widths[-1] == 16  # >= target: untouched


def test_dlq_write_is_single_task_for_small_split(spark):
    """The pre-insert DLQ count lets run_batch collapse the (minority)
    error split to ONE write task instead of |partitions| tiny files."""
    widths = []

    def width_dlq(df):
        widths.append(df.rdd.getNumPartitions())

    job = PipelineJob(StaticSchemaProvider(SCHEMA), ListSink(), width_dlq)
    job.run_batch(make_batch(spark, [GOOD] * 50 + [BAD] * 3))
    assert widths == [1]


def test_start_disables_aqe_by_default(spark, tmp_path):
    """PipelineJob.start runs its query with AQE and in-memory columnar
    compression off (fixed micro-batch plans gain nothing from
    stage-at-a-time scheduling; a cache that lives milliseconds gains
    nothing from compression) — on the query's own session clone only:
    the caller's session keeps its values."""
    _COMPRESS = "spark.sql.inMemoryColumnarStorage.compressed"
    keys = ("spark.sql.adaptive.enabled", _COMPRESS)
    seen = []

    class ConfProbeJob(PipelineJob):
        def run_batch(self, batch_df, batch_id=0):
            seen.append({k: batch_df.sparkSession.conf.get(k) for k in keys})
            super().run_batch(batch_df, batch_id)

    src = str(tmp_path / "in")
    make_batch(spark, [GOOD]).write.parquet(src)
    stream = spark.readStream.schema("value string").parquet(src)
    sink, dlq = ListSink(), ListSink()
    job = ConfProbeJob(StaticSchemaProvider(SCHEMA), sink, dlq)

    before = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(_COMPRESS, "true")
    try:
        q = job.start(stream, str(tmp_path / "ck"), available_now=True)
        assert {k: spark.conf.get(k) for k in keys} == dict.fromkeys(
            keys, "true"
        )
        q.awaitTermination()
        assert {k: spark.conf.get(k) for k in keys} == dict.fromkeys(
            keys, "true"
        )
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert seen == [dict.fromkeys(keys, "false")]
    assert len(sink.rows) == 1


@pytest.mark.parametrize("fail_times", [0, 1, 2])
@pytest.mark.parametrize("width", ["narrow", "wide"])
def test_run_batch_accounting_exact_all_paths(spark, fail_times, width):
    """Exact row conservation through run_batch on a mixed batch, for
    every sink-failure arm (happy / drift-retry / double-failure),
    with the fan-out both on (a 1-partition batch) and off (a batch
    already wider than its target): every input row is exactly one of
    sink-delivered, DLQ'd, or silently dropped. The failure arms here
    keep the same schema across the retry (no reclassification), so
    the overlapped DLQ write delivers each row exactly once. The
    happy arm's sink rows are the batch API's typed frame."""
    from kafka2clickhouse_py_streamer_spark.pipeline import process_batch

    n_good, n_bad, n_drop = 37, 11, 5
    payloads = (
        [GOOD] * n_good + [BAD] * n_bad + ["", "  ", "{oops", "\t\n", "[1]"]
    )
    batch = make_batch(spark, payloads)
    batch = batch.coalesce(1) if width == "narrow" else batch.repartition(16)
    sink, dlq = ListSink(fail_times=fail_times), ListSink()
    job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
    job.run_batch(batch)
    if fail_times <= 1:
        # happy or drift-retry-then-success: valid rows delivered
        assert len(sink.rows) == n_good
        assert len(dlq.rows) == n_bad
        assert {r.error for r in dlq.rows} == {
            "data must contain ['device_id'] properties"
        }
        if fail_times == 0:
            assert sorted(sink.rows) == sorted(
                process_batch(batch, SCHEMA)[0].collect()
            )
    else:
        # double failure: valid rows join the DLQ with the insert
        # error; invalid rows keep their validation error
        assert sink.rows == []
        assert len(dlq.rows) == n_bad + n_good
        errors = [r.error for r in dlq.rows]
        assert sum("insert failed after retry" in e for e in errors) == n_good
        assert sum("device_id" in e and "properties" in e for e in errors) == n_bad
    # tombstones/malformed are silently dropped in every arm
    assert len(sink.rows) + len(dlq.rows) <= n_good + n_bad


def test_steady_trigger_scans_source_once(spark, tmp_path):
    """The tagged per-trigger cache means every steady trigger reads its
    source rows exactly once (numInputRows == rows in the file); only
    the first trigger adds the pre-schema-fetch limit-1 probe's partial
    scan. Across all triggers every fed row is delivered, DLQ'd, or
    dropped."""
    src = tmp_path / "in"
    src.mkdir()
    per_file = [GOOD] * 30 + [BAD] * 7 + ["", "{oops"]
    for i in range(3):
        with open(src / f"b{i}.txt", "w") as f:
            f.write("\n".join(per_file))
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .format("text")
        .load(str(src))
    )
    sink, dlq = ListSink(), ListSink()
    job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
    q = job.start(stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        read = {p["batchId"]: p["numInputRows"] for p in q.recentProgress}
    finally:
        q.stop()
    n = len(per_file)
    assert sorted(read) == [0, 1, 2]
    assert n <= read[0] <= 2 * n
    assert read[1] == read[2] == n
    assert (len(sink.rows), len(dlq.rows)) == (3 * 30, 3 * 7)


def test_empty_batch_after_schema_cached_skips_sinks(spark):
    """r9b moved the steady-state emptiness check onto the tagged
    cache probe (the first-trigger raw probe only covers the
    empty-before-DESCRIBE parity order). An empty batch arriving
    AFTER the schema is cached must still reach neither sink."""
    sink, dlq = ListSink(), ListSink()
    provider = StaticSchemaProvider(SCHEMA)
    job = PipelineJob(provider, sink, dlq)
    job.run_batch(make_batch(spark, [GOOD]))
    assert sink.calls == 1
    job.run_batch(make_batch(spark, []))
    assert sink.calls == 1 and dlq.calls == 0
    assert provider.fetch_count == 1


class ReclassifyingProvider:
    """First fetch: device_id required. After invalidation (drift):
    note required instead — rows missing device_id become VALID and
    rows missing note become INVALID, exercising reclassification."""

    def __init__(self):
        self.fetch_count = 0

    def fetch(self):
        self.fetch_count += 1
        cols = [
            ("device_id", "UInt32"),
            ("speed", "Float32"),
            ("note", "String"),
        ]
        req = ["device_id"] if self.fetch_count == 1 else ["note"]
        return build_table_schema(cols, required_columns=req)


@pytest.mark.parametrize("fail_times", [1, 2])
def test_reclassifying_drift_retry_accounting(spark, fail_times):
    """True drift that RECLASSIFIES rows, in the retry-success AND
    double-failure arms. The DLQ is the documented at-least-once
    superset of the reference's — rows invalid under the OLD schema
    were already DLQ'd, overlapped with the insert, before the sink
    failed — but within the trigger each MESSAGE reaches the DLQ at
    most once: the retry anti-joins the already-written values out of
    its whole final frame, covering both the invalid-under-both rows
    and (in the double-failure arm) the reclassified rows that would
    otherwise land twice with contradictory errors."""
    has_note_no_id = '{"speed": 1.0, "note": "n"}'  # invalid1 → valid2
    has_id_no_note = '{"device_id": 7, "speed": 2.0}'  # valid1 → invalid2
    has_both = '{"device_id": 8, "speed": 3.0, "note": "m"}'  # valid both
    has_neither = '{"speed": 4.0}'  # invalid under BOTH schemas

    sink, dlq = ListSink(fail_times=fail_times), ListSink()
    job = PipelineJob(ReclassifyingProvider(), sink, dlq)
    job.run_batch(
        make_batch(
            spark,
            [has_note_no_id, has_id_no_note, has_both, has_neither],
        )
    )

    dlq_rows = sorted(r.row for r in dlq.rows)
    if fail_times == 1:
        # retry succeeded → rows valid under schema 2 are inserted
        assert sorted(r.note for r in sink.rows) == ["m", "n"]
        # superset: old-invalid written pre-failure + newly-invalid
        assert dlq_rows == sorted(
            [has_note_no_id, has_id_no_note, has_neither]
        )
    else:
        # double failure: nothing inserted; every message lands in the
        # DLQ EXACTLY once (the four messages partition into
        # old-invalid / new-invalid / failed-valid legs)
        assert sink.rows == []
        assert dlq_rows == sorted(
            [has_note_no_id, has_id_no_note, has_both, has_neither]
        )
        errors = {r.row: r.error for r in dlq.rows}
        # the rows valid under the retry schema carry the insert error
        assert "insert failed after retry" in errors[has_both]
        # written pre-failure with the OLD schema's validation error
        # (documented)
        assert "device_id" in errors[has_note_no_id]


def test_overlap_crash_after_dlq_write_replays_without_loss(
    spark, tmp_path
):
    """The overlapped DLQ write's crash window, exercised as a REAL
    streaming kill/replay: the DLQ write lands, then the trigger dies
    before the batch commits (here: the DLQ sink raises AFTER its
    parquet write — the 'wrote but crashed before ack' shape). The
    checkpoint must replay the whole batch on restart; nothing may be
    lost. Valid rows stay exactly-once through the batch-id-keyed
    idempotent sink; the non-idempotent DLQ write duplicates — the
    documented at-least-once contract, same as any whole-batch replay
    in the reference (main.py:525-526)."""
    from kafka2clickhouse_py_streamer_spark.streaming.exactly_once import (
        idempotent_parquet_sink,
        read_idempotent,
    )

    src = tmp_path / "in"
    src.mkdir()
    with open(src / "batch0.txt", "w") as f:
        f.write("\n".join([GOOD] * 10 + [BAD] * 3))

    out = str(tmp_path / "out")
    dlq_dir = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")
    idem = idempotent_parquet_sink(out)

    crashes = {"armed": True}

    def crashy_dlq(df):
        df.write.mode("append").parquet(dlq_dir)
        if crashes["armed"]:
            crashes["armed"] = False
            raise RuntimeError("simulated crash after DLQ write")

    def make_stream():
        return spark.readStream.format("text").load(str(src))

    job = PipelineJob(
        StaticSchemaProvider(SCHEMA),
        sink=lambda df: idem(df, 0),
        dlq_sink=crashy_dlq,
    )
    q = job.start(make_stream(), ckpt)
    try:
        with pytest.raises(Exception):
            q.processAllAvailable()
            q.awaitTermination(30)
    finally:
        q.stop()
    assert q.exception() is not None  # the trigger really died

    # restart from the same checkpoint with the DLQ sink healed
    q = job.start(make_stream(), ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got_valid = read_idempotent(spark, out)
    assert got_valid.count() == 10  # exactly-once via batch-id key
    dlq_rows = spark.read.parquet(dlq_dir)
    # at-least-once: the crashed attempt's write + the replay's write
    assert dlq_rows.count() == 6
    assert dlq_rows.select("row").distinct().count() == 1  # BAD only


def test_both_writes_failing_chains_both_causes(spark):
    """Valid sink AND overlapped DLQ sink both failing: the
    batch must abort on the DLQ failure (it cannot be retried away)
    with the sink failure chained as its __cause__ — neither root
    cause may vanish from the operator's traceback."""

    def bad_sink(df):
        raise RuntimeError("insert down")

    def bad_dlq(df):
        raise RuntimeError("dlq down")

    job = PipelineJob(StaticSchemaProvider(SCHEMA), bad_sink, bad_dlq)
    with pytest.raises(RuntimeError, match="dlq down") as ei:
        job.run_batch(make_batch(spark, [GOOD, BAD]))
    assert "insert down" in str(ei.value.__cause__)


def test_probe_then_write_sink_still_delivers_dlq(spark):
    """Round-9 code-review repro, kept as a regression pin: a sink
    that probes emptiness before writing (`if df.isEmpty(): return`
    then write — a normal JDBC pattern) silently lost DLQ rows under
    the r9 Observation design (its limit-1 probe finalized the metric
    at 0). The r9b counts-first design takes the DLQ count in its own
    pre-insert job, so nothing the sink does can undercount it."""

    class ProbeThenWriteSink(ListSink):
        def __call__(self, df):
            self.calls += 1
            if df.isEmpty():
                return
            self.rows.extend(df.collect())

    sink, dlq = ProbeThenWriteSink(), ListSink()
    job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
    job.run_batch(make_batch(spark, [GOOD] * 50 + [BAD] * 3))
    assert len(sink.rows) == 50
    assert len(dlq.rows) == 3  # NOT silently dropped


def test_all_tombstone_double_failure_skips_empty_dlq_write(spark):
    """Round-9 code-review finding: an all-tombstone batch whose sink
    fails twice produces an EMPTY dlq union (no validation errors, no
    valid rows to fail) — the DLQ sink must not be invoked with an
    empty frame (spurious empty file / empty Kafka produce)."""
    sink, dlq = ListSink(fail_times=2), ListSink()
    job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
    job.run_batch(make_batch(spark, ["", "  ", "{oops", "\t\n"]))
    assert dlq.calls == 0


def test_non_acting_sink_routes_exactly(spark):
    """An enqueue-only sink (no Spark action of its own — the r8/r9
    Observation design's failure mode, which leaked one JVM
    ObservationManager entry per such trigger until disabled) must
    still see exact routing under the r9b counts-first design: the
    pre-insert count job (main.py:429 parity) decides DLQ delivery,
    not anything the sink runs."""

    class EnqueueSink:
        def __init__(self):
            self.frames = []

        def __call__(self, df):
            self.frames.append(df)  # no action

    sink, dlq = EnqueueSink(), ListSink()
    job = PipelineJob(StaticSchemaProvider(SCHEMA), sink, dlq)
    batch = make_batch(spark, [GOOD, BAD])
    job.run_batch(batch)
    job.run_batch(batch)
    assert len(sink.frames) == 2
    assert len(dlq.rows) == 2


def test_hist_compaction_crash_through_seam(spark, tmp_path):
    """SUM-fold crash window exercised through the ACTUAL compactor
    (r12: the seam threaded to every fold family, not just the digest
    compactor): the bin-wise SUM compaction dies after its commit
    marker — the
    quantile read-off over the mid-swap state is unchanged (temp
    invisible, sources intact), and the next maintenance call rolls
    the swap forward to one compacted partition with identical
    estimates (a SUM fold replayed or refolded wrongly would shift
    counts, unlike the DISTINCT fold where duplication is absorbed)."""
    import os

    from kafka2clickhouse_py_streamer_spark.streaming.sketch_stream import (
        hist_quantile_estimates,
        hist_update_batch,
        merge_hist,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import (
        CompactionCrash,
        compact,
    )

    state = str(tmp_path / "hist_crash_state")
    for bid, lo in ((0, 0.0), (1, 30.0), (2, 70.0)):
        hist_update_batch(
            spark.createDataFrame(
                [(lo + i * 0.9,) for i in range(50)], "value double"
            ),
            bid,
            state,
        )

    def est():
        return {
            tuple(r)
            for r in hist_quantile_estimates(spark, state).collect()
        }

    before = est()
    with pytest.raises(CompactionCrash):
        compact(spark, state, 1, merge_hist, _crash_point="after_marker")
    assert os.path.isdir(os.path.join(state, ".compact_tmp"))
    assert est() == before  # mid-swap reads see the sources
    removed = compact(spark, state, 2, merge_hist)
    assert removed > 0
    parts = {p for p in os.listdir(state) if p.startswith("batch_id=")}
    assert parts == {"batch_id=-1"}
    assert est() == before


def test_asof_compaction_crash_through_seam(spark, tmp_path):
    """Frontier-fold crash window through the actual compactor: the
    SCD-frontier fold (per-key winner at-or-before the watermark +
    everything newer) dies after its commit marker; the state read
    mid-swap is unchanged; the next call rolls forward, and the
    recovered state equals a twin state compacted WITHOUT the crash,
    row for row."""
    import datetime
    import shutil

    from kafka2clickhouse_py_streamer_spark.streaming.asof_stream import (
        asof_enrich_batch,
        asof_frontier,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import (
        CompactionCrash,
        compact,
    )

    def dims_batch(rows):
        return spark.createDataFrame(
            [
                (0, None, None, None, ck, ok,
                 datetime.datetime(2024, 1, d), p)
                for ck, ok, d, p in rows
            ],
            "is_event int, event_id long, user_id long, ts timestamp,"
            " o_custkey long, o_orderkey long, o_orderdate timestamp,"
            " o_totalprice double",
        )

    state = str(tmp_path / "asof_crash_state")
    out = str(tmp_path / "asof_crash_out")
    batches = [
        [(1, 10, 1, 5.0), (1, 11, 3, 6.0), (2, 20, 2, 7.0)],
        [(1, 12, 8, 8.0), (2, 21, 9, 9.0)],
        [(1, 13, 20, 10.0), (3, 30, 21, 11.0)],
    ]
    for bid, rows in enumerate(batches):
        asof_enrich_batch(dims_batch(rows), bid, out, state)
    twin = str(tmp_path / "asof_twin_state")
    shutil.copytree(state, twin)
    wm = datetime.datetime(2024, 1, 10)

    def rows_of(d):
        return {
            tuple(r)
            for r in spark.read.parquet(d)
            .drop("batch_id")
            .collect()
        }

    def frontier(s):
        return asof_frontier(s, wm)

    before = rows_of(state)
    with pytest.raises(CompactionCrash):
        compact(spark, state, 1, frontier, _crash_point="after_marker")
    assert rows_of(state) == before  # sources intact mid-swap
    removed = compact(spark, state, 1, frontier)  # roll forward
    assert removed > 0
    compact(spark, twin, 1, frontier)  # uninterrupted twin
    assert rows_of(state) == rows_of(twin)

"""Watermark semantics tests: late-data drop, append-mode window
finalization, and streaming dedup state eviction — driven through a real
file-based stream where each file is one micro-batch."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kafka2clickhouse_py_streamer_spark.streaming.watermark import (
    dedup_within_watermark,
    tumbling_counts,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


class StreamHarness:
    """File-source stream where each appended file becomes its own
    micro-batch (processAllAvailable between writes), with results
    collected through foreachBatch."""

    def __init__(self, spark, tmp_path, transform, output_mode="append"):
        self.src = str(tmp_path / "src")
        os.makedirs(self.src)
        self._n = 0
        self.batches: list[list] = []
        stream = (
            spark.readStream.schema(
                StructType([StructField("value", StringType())])
            )
            .json(self.src)
            .select(
                F.get_json_object("value", "$.event_id").cast("long").alias("event_id"),
                F.get_json_object("value", "$.ts").cast("timestamp").alias("ts"),
                F.get_json_object("value", "$.event_type").alias("event_type"),
                F.get_json_object("value", "$.value").cast("double").alias("value"),
            )
        )
        out = transform(stream)
        self.query = (
            out.writeStream.outputMode(output_mode)
            .foreachBatch(lambda df, _id: self.batches.append(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    def push(self, rows: list[dict]):
        path = os.path.join(self.src, f"b{self._n}.txt")
        self._n += 1
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps({"value": json.dumps(r)}) + "\n")
        self.query.processAllAvailable()

    def stop(self):
        self.query.stop()

    @property
    def rows(self):
        return [r for b in self.batches for r in b]


def ev(eid, ts, typ="click", value=1.0):
    return {"event_id": eid, "ts": ts, "event_type": typ, "value": value}


def test_append_mode_window_emits_after_watermark(spark, tmp_path):
    h = StreamHarness(
        spark, tmp_path, lambda s: tumbling_counts(s, "1 hour", "1 hour")
    )
    try:
        # two events in the 10:00 window — watermark still at 0, nothing emits
        h.push([ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:20:00")])
        assert h.rows == []
        # event at 13:00 → watermark 12:00 > 11:00 → 10:00 window finalizes
        h.push([ev(3, "2024-01-01 13:00:00")])
        emitted = {
            (str(r.window_start), r.n_events) for r in h.rows
        }
        assert (("2024-01-01 10:00:00", 2)) in emitted
    finally:
        h.stop()


def test_late_event_dropped(spark, tmp_path):
    h = StreamHarness(
        spark, tmp_path, lambda s: tumbling_counts(s, "1 hour", "1 hour")
    )
    try:
        h.push([ev(1, "2024-01-01 10:05:00")])
        h.push([ev(2, "2024-01-01 14:00:00")])  # watermark → 13:00
        before = len(h.rows)
        # 10:30 is far behind the 13:00 watermark → silently dropped
        h.push([ev(9, "2024-01-01 10:30:00")])
        h.push([ev(3, "2024-01-01 18:00:00")])  # advance → 14:00 window emits
        emitted = {(str(r.window_start), r.n_events) for r in h.rows[before:]}
        # the late event neither re-opened 10:00 nor formed a new window
        assert all(not w.startswith("2024-01-01 10:") for w, _ in emitted)
        assert ("2024-01-01 14:00:00", 1) in emitted
    finally:
        h.stop()


def test_streaming_dedup_drops_within_horizon(spark, tmp_path):
    h = StreamHarness(
        spark, tmp_path,
        lambda s: dedup_within_watermark(s, ["event_id"], "1 hour"),
    )
    try:
        h.push([ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:00")])
        assert len(h.rows) == 1  # exact duplicate in same batch deduped
        h.push([ev(1, "2024-01-01 10:10:00")])  # dup within horizon
        assert len(h.rows) == 1
        h.push([ev(2, "2024-01-01 10:30:00")])  # new key admitted
        assert len(h.rows) == 2
    finally:
        h.stop()


def test_streaming_dedup_readmits_after_eviction(spark, tmp_path):
    h = StreamHarness(
        spark, tmp_path,
        lambda s: dedup_within_watermark(s, ["event_id"], "1 hour"),
    )
    try:
        h.push([ev(1, "2024-01-01 10:00:00")])
        # advance watermark far past 10:00 + 1h; the watermark a batch
        # runs with comes from the PREVIOUS batch's max event time, and
        # eviction runs at batch end — so two advancing batches are
        # needed before key-1's state is provably gone
        h.push([ev(2, "2024-01-01 15:00:00")])
        h.push([ev(3, "2024-01-01 16:00:00")])
        h.push([ev(1, "2024-01-01 16:30:00")])  # same key, after horizon
        assert len(h.rows) == 4  # re-admitted (state was evicted)
    finally:
        h.stop()


@pytest.mark.parametrize(
    "transform",
    [
        lambda s: dedup_within_watermark(s, ["event_id"], "1 hour"),
        lambda s: tumbling_counts(s, "1 hour", "1 hour"),
    ],
    ids=["dedup", "window_agg"],
)
def test_state_plateaus_while_input_grows(spark, tmp_path, transform):
    """State is bounded by the watermark horizon, not stream length:
    eight hourly batches of fresh keys and event types, and Spark's own
    state store evicts (numRowsRemoved fires) while numRowsTotal
    stops growing once the horizon is full, even as cumulative input
    keeps climbing."""
    per_hour, hours = 20, 8
    h = StreamHarness(spark, tmp_path, transform)
    totals = []
    try:
        for hour in range(hours):
            h.push([
                ev(hour * per_hour + k,
                   f"2024-01-01 {10 + hour:02d}:{k * 2:02d}:00",
                   typ=f"type_{k % 5}")
                for k in range(per_hour)
            ])
            op = h.query.lastProgress["stateOperators"][0]
            totals.append(op["numRowsTotal"])
        removed = sum(
            p["stateOperators"][0]["numRowsRemoved"]
            for p in h.query.recentProgress
            if p["stateOperators"]
        )
    finally:
        h.stop()
    assert removed > 0, totals
    # every hour feeds per_hour more rows, yet the last third holds no
    # more state than the middle third
    assert max(totals[5:]) <= max(totals[2:5]), totals
    assert totals[-1] < hours * per_hour / 2, totals

"""Watermarked streaming operators over an event stream with an event-
time column (the ``events`` fixture shape).

These are the *streaming* halves of the batch twins in
streaming/batch_windows.py (Structured Streaming guarantees the same
aggregation expressions produce the same results; the batch twins carry
the DuckDB oracle, these carry the state/watermark semantics only a real
stream exhibits: late-data drop, state eviction, exactly-once windows in
append mode).

Scale notes: state size is bounded by the watermark horizon × key
cardinality — the ONLY thing that makes 100 TB/day streams feasible.
Every operator here requires an explicit watermark for that reason; an
unbounded-state operator never ships.

Reference parity: the reference has no event-time semantics at all
(SURVEY.md §2b — north-star extension); its at-least-once micro-batch
contract (main.py:525-526) is inherited from the checkpointed
foreachBatch shell in streaming/job.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts. In append mode a window emits
    exactly once, when the watermark passes its end; events later than
    the watermark are dropped (the late-data policy)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: keeps the first occurrence of each key;
    duplicate state is evicted once the watermark passes, so a re-send
    after the horizon is admitted again. State = |distinct keys within
    horizon| — bounded.

    Uses ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates`` on
    a key subset that excludes the event-time column NEVER evicts state
    (unbounded growth — exactly the failure mode this module bans)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts_r",
    watermark: str = "1 hour",
    max_delay: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time range constraint.

    Both sides carry watermarks and the join condition bounds how far
    the right event may trail the left one — the two ingredients that
    let Spark EVICT join state (unbounded stream-stream joins never
    ship, same discipline as everything else in this module). State per
    side ≈ events within (watermark + max_delay) of the front.

    ``how`` extends to the OUTER variants ("left_outer" /
    "right_outer" / "full_outer"): Spark holds the unmatched side in
    state until the watermark proves no in-bound partner can still
    arrive, then emits it with NULLs — the time-bound is what makes
    outer results FINAL (an unbounded outer stream-stream join could
    never emit an unmatched row)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    joined = lw.join(
        rw,
        (lw[key] == rw[key])
        & (F.col(right_ts) >= F.col(left_ts))
        & (
            F.col(right_ts)
            <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}")
        ),
        how,
    )
    # keep ONE key column; coalesce for outer shapes where either side
    # may be null
    return joined.withColumn(
        "__k", F.coalesce(lw[key], rw[key])
    ).drop(lw[key]).drop(rw[key]).withColumnRenamed("__k", key)

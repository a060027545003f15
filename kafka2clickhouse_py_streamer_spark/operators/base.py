"""Shared plumbing for the query registry.

Oracle-parity rules (every query in the registry follows these):

- Alias every computed column identically in Spark and SQL (the driver
  sorts columns by name before hashing values).
- Computed integers are cast to BIGINT on both sides (Spark's
  ``row_number``/``month`` return INT, DuckDB's return BIGINT; DuckDB's
  ``SUM(int)`` returns HUGEINT — normalize everything to long).
- Floating aggregates are ``round()``-ed to a fixed scale on both sides
  (summation order differs between engines; rounding absorbs the ulp-level
  drift).
- Timestamp semantics pinned to UTC (session conf) so Spark and DuckDB
  (UTC-naive) agree.
- Every query orders deterministically or is order-insensitive (the
  driver's compare sorts rows anyway; determinism matters for ``LIMIT``).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Query:
    """One verifiable operator: Spark program + optional DuckDB oracle."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


# events.ts has shipped as parquet timestamp[ns] (Spark reads it as long
# under the legacy conf) and as timestamp[us] (Spark 4 reads it as
# TIMESTAMP_NTZ). Normalize BOTH to a plain session-TZ TIMESTAMP here,
# once, so every downstream query can use unix_micros/double casts
# without caring which fixture vintage it got. Session TZ is pinned UTC
# below, so NTZ -> TIMESTAMP is a pure relabel (no wall-clock shift) and
# matches the UTC-naive DuckDB oracle exactly.


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The harness may hand us a session we didn't build: pin UTC at
    # read time so timestamp rendering matches the UTC-naive oracle
    # regardless of the host session's timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        # ts needs the bigint-nanos special case; any OTHER temporal
        # column still goes through the generic sweep below
        df = normalize_event_time(df)
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # Same NTZ seam as events.ts, any table: orders.o_orderdate is also
    # parquet timestamp[us] now. Relabel every NTZ column to session-TZ
    # TIMESTAMP (UTC pinned above — no wall-clock shift) so no query
    # ever meets TIMESTAMP_NTZ, whatever the fixture vintage.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Coerce an event-time column to plain TIMESTAMP (UTC session TZ).

    Handles every fixture vintage: bigint nanos (legacy nanosAsLong
    read), TIMESTAMP_NTZ (Spark 4's reading of parquet timestamp[us]),
    and already-TIMESTAMP (no-op). Works on batch and streaming
    DataFrames alike — it is a pure projection.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow scan up to the session's parallelism.

    Single-file parquet tables (documents/embeddings/events fixtures)
    arrive as ONE partition, serializing every CPU-heavy downstream
    operator (tokenize/shingle/hash/vector math) onto one core. A
    round-robin repartition costs one shuffle of the raw rows — trivial
    next to the per-row compute it parallelizes 32×. At 100 TB inputs
    arrive in thousands of splits and this is a no-op (we only widen,
    never coalesce).

    The width probe uses ``inputFiles()`` (driver-side file listing),
    not ``df.rdd.getNumPartitions()`` — the RDD conversion forces a
    full physical re-plan per call. One file may still split into many
    tasks (maxPartitionBytes), so few-files is a conservative proxy:
    we only skip the shuffle when the scan already has at least as
    many files as cores.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    if n_files == 0:
        # Not file-backed (or the probe failed) — e.g. a frame already
        # downstream of a shuffle. Fall back to the RDD partition count
        # (forces a physical plan, so only on this cold path) instead of
        # unconditionally paying an extra exchange on an already-wide
        # frame.
        try:
            if df.rdd.getNumPartitions() >= target:
                return df
        except Exception:
            pass
    return df.repartition(target)


def all_queries() -> dict[str, Query]:
    """Merge every operator module's registry. Import here (not at module
    top) so a bug in one module doesn't take down the whole registry at
    import time of the package."""
    from kafka2clickhouse_py_streamer_spark.operators import (
        aggregates,
        joins,
        scalar_fns,
        statistics,
        windows,
    )
    from kafka2clickhouse_py_streamer_spark.llm import (
        dedup,
        multimodal,
        sampling,
        similarity,
        text,
    )
    from kafka2clickhouse_py_streamer_spark.streaming import batch_windows

    merged: dict[str, Query] = {}
    for mod in (aggregates, joins, windows, scalar_fns, statistics,
                dedup, similarity, text, multimodal, sampling,
                batch_windows):
        for q in mod.QUERIES:
            if q.name in merged:
                raise ValueError(f"duplicate query name: {q.name}")
            merged[q.name] = q
    return merged

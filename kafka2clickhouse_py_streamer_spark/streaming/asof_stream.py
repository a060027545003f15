"""Streaming as-of enrichment — q26's timeline join maintained
incrementally under ``readStream``.

One interleaved stream carries BOTH row kinds (the same tagged-union
frame q26's batch core sorts): dimension versions (``is_event = 0``,
order rows) and fact events (``is_event = 1``). Each micro-batch
persists its dimension versions to their own ``batch_id`` partition
and enriches its events against ALL persisted versions plus this
batch's own — through the SAME :func:`asof_carry_enrich` core as the
batch q26, so the streamed output equals batch q26 over the
concatenated input by construction (twin-tested).

Ordering contract (same class as the dedup admitters' id-ordered
cut): micro-batch cuts must respect event time ACROSS KINDS — a
dimension version must not arrive in a later batch than a fact it
should enrich. Within a batch, order is irrelevant (the carry sort
puts same-instant dimensions before facts). This is exactly the
guarantee a watermarked upstream provides.

State/recovery contract (``streaming.state``):

- Dimension partitions are ``batch_id=N`` under dynamic partition
  overwrite; enriched outputs are partitioned the same way — an
  at-least-once re-delivery overwrites BOTH its own partitions, and
  because ``state.read_prior`` never reads the current batch's
  partition, a replay enriches against the identical version set.
- State grows with dimension versions, not facts. The maintenance
  step is ``state.compact(spark, state_dir, n, lambda s:
  asof_frontier(s, w))``: under a watermark ``w``, any version that is
  neither the per-key LATEST at-or-before ``w`` nor newer than ``w``
  is dominated — no future fact (t ≥ w) can ever pick it — so the
  fold keeps exactly the per-key SCD frontier, through the same
  crash-recoverable fold-and-swap as every other persisted operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka2clickhouse_py_streamer_spark.streaming.state import (
    read_prior,
    write_batch,
)

# the interleaved stream's schema: dimension rows fill the o_* columns
# (is_event = 0), fact rows fill event_id/user_id/ts (is_event = 1)
ASOF_STREAM_SCHEMA = (
    "is_event int, event_id long, user_id long, ts timestamp, "
    "o_custkey long, o_orderkey long, o_orderdate timestamp, "
    "o_totalprice double"
)

_DIM_COLS = ["o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"]


def asof_enrich_batch(
    batch_df: DataFrame, batch_id: int, out_dir: str, state_dir: str
) -> None:
    """Process one interleaved micro-batch: persist its dimension
    versions, enrich its facts against (prior state ∪ own versions)
    through the shared q26 core, append enriched rows to ``out_dir``.

    Module-level (not a closure) so replay idempotency is testable
    without a running stream — the corpus_stream discipline."""
    from kafka2clickhouse_py_streamer_spark.operators.joins import (
        asof_carry_enrich,
    )

    dims = batch_df.filter(F.col("is_event") == 0).select(*_DIM_COLS)
    facts = batch_df.filter(F.col("is_event") == 1).select(
        "event_id", "user_id", "ts"
    )
    prior = read_prior(batch_df.sparkSession, state_dir, batch_id)
    versions = (
        dims
        if prior is None
        else dims.unionByName(prior.select(*_DIM_COLS))
    )
    write_batch(asof_carry_enrich(facts, versions), batch_id, out_dir)
    write_batch(dims, batch_id, state_dir)


def asof_frontier(state: DataFrame, watermark) -> DataFrame:
    """The timeline fold for ``state.compact``: the per-key SCD
    frontier of ``state`` under ``watermark`` — every version newer
    than the watermark, plus the single per-key winner at-or-before it
    (max o_orderdate, ties to max o_orderkey — the EXACT pick
    :func:`asof_carry_enrich` would make for any future fact, so
    enrichment of facts with t ≥ watermark is provably unchanged)."""
    fresh = state.filter(F.col("o_orderdate") > F.lit(watermark))
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    frontier = (
        state.filter(F.col("o_orderdate") <= F.lit(watermark))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return fresh.unionByName(frontier).select(*_DIM_COLS)

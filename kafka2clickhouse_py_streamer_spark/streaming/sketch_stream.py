"""Streaming count-min sketch — w12's frequency grid maintained
incrementally under ``readStream``.

This is the payoff of choosing count-min for streaming frequency:
sketches MERGE BY CELL-WISE ADDITION, so the streaming form needs no
reconciliation logic at all — each micro-batch contributes its own
k×w cell-count partition, and the live sketch is one ``SUM(cell)
GROUP BY (j, bucket)`` over the state table. The merged estimates are
IDENTICAL to running the batch sketch over the concatenated input
(twin-tested in tests/test_streaming.py), wherever the micro-batch
boundaries fall — no ordering precondition, unlike the dedup/semdedup
admitters (addition commutes; admission does not).

State/recovery contract (``streaming.state``):

- State partitions are ``batch_id=N`` under dynamic partition
  overwrite, so an at-least-once re-delivery overwrites its own
  partition instead of double-counting.
- Each sketch has ONE merge that takes a state ``DataFrame``
  (:func:`merge_cells`, :func:`merge_hist`, :func:`merge_decayed`,
  :func:`merge_registers`). The live read applies it to the whole
  state table, and maintenance passes it as the fold of
  ``state.compact`` — so the two cannot drift. A DISTINCT fold would
  be wrong here: it collapses equal cell counts from different
  batches.
- At scale the state table is ≤ k·w rows per batch regardless of
  event volume (the map-side-combined sketch is the ONLY thing
  persisted), so a year of 30 s batches is ~1M tiny partitions —
  exactly the small-files problem the compaction folds away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
    cm_bucket_pairs,
)
from kafka2clickhouse_py_streamer_spark.streaming.state import (
    read_prior,
    write_batch,
)


def _batch_cells(batch_df: DataFrame, key_col: str) -> DataFrame:
    """The per-batch sketch: (j, bucket, cell) counts of ``key_col``
    — w12's update aggregate (the SAME cm_bucket_pairs construction,
    or the streaming/batch twin breaks), ≤ CM_ROWS×CM_WIDTH rows
    whatever the batch size."""
    return (
        cm_bucket_pairs(batch_df, key_col)
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cell"))
    )


def countmin_update_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_col: str = "user_id",
) -> None:
    """Fold one micro-batch into the persisted sketch: write THIS
    batch's k×w cell counts to its own ``batch_id`` partition
    (dynamic overwrite ⇒ replay-idempotent). No read of prior state is
    needed — merging happens at query time by summation."""
    write_batch(
        _batch_cells(batch_df.filter(F.col(key_col).isNotNull()), key_col),
        batch_id,
        state_dir,
    )


def merge_cells(state: DataFrame) -> DataFrame:
    """The count-min merge: cell-wise sum over state partitions — ≤ k·w
    rows. Over the whole state table it is the LIVE sketch; as the
    ``state.compact`` fold it is the compacted partition."""
    return state.groupBy("j", "bucket").agg(F.sum("cell").alias("cell"))


def countmin_estimates(
    spark, state_dir: str, keys_df: DataFrame, key_col: str = "user_id"
) -> DataFrame:
    """Min-over-rows frequency estimates for ``keys_df`` against the
    merged sketch (broadcast — it is ≤ k·w rows)."""
    probes = cm_bucket_pairs(keys_df, key_col, keep_key=True)
    # LEFT join + coalesce(0): a cell with no row means NOTHING ever
    # hashed there — its count is zero, and count-min's estimate is
    # the MIN over cells, so a never-seen key must estimate 0. An
    # inner join would drop such keys entirely (all cells absent) or
    # overestimate from the surviving subset (some absent).
    return (
        probes.join(
            F.broadcast(merge_cells(spark.read.parquet(state_dir))),
            ["j", "bucket"],
            "left",
        )
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce("cell", F.lit(0)))
            .cast("long")
            .alias("est")
        )
    )


def hist_update_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    value_col: str = "value",
) -> None:
    """Fold one micro-batch into the persisted histogram: write THIS
    batch's ≤ HIST_BINS (bin, cnt) cells to its own ``batch_id``
    partition (dynamic overwrite ⇒ replay-idempotent) — the count-min
    contract (`countmin_update_batch`) applied to w13's quantile grid,
    sharing `hist_cells` so the streaming/batch twin can't drift."""
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        hist_cells,
    )

    write_batch(hist_cells(batch_df, value_col), batch_id, state_dir)


def merge_hist(state: DataFrame) -> DataFrame:
    """The histogram merge: bin-wise sum over state partitions — ≤
    HIST_BINS rows (the live histogram, or the compaction fold)."""
    return state.groupBy("bin").agg(F.sum("cnt").alias("cnt"))


def hist_quantile_estimates(spark, state_dir: str) -> DataFrame:
    """(q, n, raw_est) quantile read-off over the merged persisted
    histogram — the SAME `hist_quantiles_from_cells` arithmetic as the
    batch w13 audit, so streamed estimates equal batch estimates for
    any micro-batch cut (twin-tested)."""
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        hist_quantiles_from_cells,
    )

    return hist_quantiles_from_cells(
        merge_hist(spark.read.parquet(state_dir))
    )


def decay_update_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str
) -> None:
    """Fold one micro-batch into the persisted DECAYED-RATE state
    (w14's counter maintained incrementally): per event_type, this
    batch's decayed mass relative to the batch's OWN newest timestamp,
    stored alongside that reference instant (``t_ref_us``).

    Unlike the count-min/histogram cells, decayed masses from
    different batches are NOT directly addable — each is relative to
    its own reference instant. But they re-reference exactly:
    mass@T = mass@t_ref × exp((t_ref − T)·k), so the merge is one
    multiply per partition then a SUM (``merge_decayed``). Storing
    per-batch-relative mass (instead of a fixed global epoch) is
    forced: exp(t·k) at absolute epoch-microsecond scale overflows
    doubles, which is exactly why decayed counters everywhere carry a
    (mass, timestamp) pair. ≤ |event_type| rows per batch; replay
    overwrites its own partition (module contract)."""
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        decayed_cells,
    )

    ev = batch_df.filter(F.col("ts").isNotNull()).select(
        "ts", "event_type"
    )
    bounds = ev.agg(F.max(F.unix_micros("ts")).alias("t_ref_us"))
    cells = decayed_cells(ev.crossJoin(F.broadcast(bounds))).crossJoin(
        F.broadcast(bounds)
    )
    write_batch(cells, batch_id, state_dir)


def merge_decayed(state: DataFrame) -> DataFrame:
    """The decayed-counter merge: every partition's mass re-referenced
    to the newest instant in ``state`` (which becomes the merged rows'
    ``t_ref_us``), then summed per key — the live counters, or the
    compaction fold."""
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        _DECAY_K,
    )

    gref = state.agg(F.max("t_ref_us").alias("g_ref_us"))
    shifted = state.crossJoin(F.broadcast(gref)).select(
        "event_type",
        "n_events",
        (
            F.col("decayed_raw")
            * F.exp(
                (
                    F.col("t_ref_us").cast("double")
                    - F.col("g_ref_us").cast("double")
                )
                * F.lit(_DECAY_K)
            )
        ).alias("mass"),
        "g_ref_us",
    )
    return shifted.groupBy("event_type").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("mass").alias("decayed_raw"),
        F.max("g_ref_us").alias("t_ref_us"),
    )


def decayed_rate_estimates(spark, state_dir: str) -> DataFrame:
    """w14's result shape over the merged persisted state — the twin
    test asserts this equals batch w14 over the concatenated input
    (to FP re-referencing tolerance: exp(a)·exp(b) vs exp(a+b) differ
    in the last ulps; unlike the integer-cell sketches this twin is
    tolerance-exact, not bit-exact)."""
    m = merge_decayed(spark.read.parquet(state_dir))
    return m.select(
        "event_type",
        "n_events",
        F.round("decayed_raw", 6).alias("decayed_count"),
        F.round(
            F.col("decayed_raw") / F.col("n_events").cast("double"), 6
        ).alias("freshness"),
    ).orderBy("event_type")


def hll_update_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_col: str = "user_id",
    scope_col: str = "event_type",
) -> None:
    """Fold one micro-batch into the persisted HLL register state:
    write THIS batch's (scope, reg, r) registers — ≤ |scopes|·256 rows
    whatever the batch size — to their own ``batch_id`` partition
    (dynamic overwrite ⇒ replay-idempotent). The count-min contract
    applied to w15's registers, sharing `hll_registers` so the
    streaming/batch twin can't drift; merging happens at query time by
    the register MAX."""
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        hll_registers,
    )

    write_batch(
        hll_registers(batch_df, key_col=key_col, scope_col=scope_col),
        batch_id,
        state_dir,
    )


def merge_registers(state: DataFrame) -> DataFrame:
    """The HLL merge: register-wise MAX over state partitions — ≤
    |scopes|·256 rows. MAX is additionally idempotent (unlike the
    count-min SUM), so even a duplicated partition could not corrupt
    the merge; the dynamic-overwrite contract is still kept for
    state-size hygiene."""
    return state.groupBy("scope", "reg").agg(F.max("r").alias("r"))


def hll_distinct_estimates(spark, state_dir: str) -> DataFrame:
    """(scope, n_regs_touched, est_distinct) over the merged persisted
    registers — the SAME `hll_estimates_from_registers` arithmetic as
    the batch w15 audit (including the max-merged '<ALL>' row), so
    streamed estimates equal batch estimates for any micro-batch cut
    (twin-tested)."""
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        hll_estimates_from_registers,
    )

    return hll_estimates_from_registers(
        merge_registers(spark.read.parquet(state_dir))
    )


def distinct_curve_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_col: str = "user_id",
    scope_col: str = "event_type",
    time_col: str = "ts",
) -> None:
    """Fold one micro-batch into the persisted EXACT distinct-curve
    state — w15's HLL answers "how many uniques"; this maintains
    q65's exact audience-accumulation curve, and the pair documents
    the state trade: exact state is O(|distinct (scope, key) pairs|)
    rows (`<state>/pairs`), the HLL's is ≤ |scopes|·256 — the whole
    reason the sketch exists.

    Two state tables, both ``batch_id``-partitioned under dynamic
    overwrite (replay-idempotent): ``pairs`` admits each (scope, key)
    ONCE — an eqNullSafe anti-join against prior state (a NULL scope
    is a legitimate key; a plain column-list join would re-admit it
    every batch) — carrying its first hour; ``grid`` records the
    (scope, hour) combinations seen, so repeat-only hours still emit
    curve rows. Ordering contract (the admitters' class): cuts must
    respect event time, or a key's recorded first hour is the first
    hour OF ITS ADMITTING BATCH. Compaction folds ``pairs`` with the
    identity (rows are unique by admission) and ``grid`` with
    DISTINCT."""
    ev = batch_df.filter(
        F.col(time_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        F.col(scope_col).alias("event_type"),
        F.col(key_col).alias("user_id"),
        F.date_trunc("hour", time_col).alias("h"),
    )
    firsts = ev.groupBy("event_type", "user_id").agg(
        F.min("h").alias("h")
    )
    pairs_dir = state_dir + "/pairs"
    prior = read_prior(batch_df.sparkSession, pairs_dir, batch_id)
    if prior is not None:
        p = prior.select(
            F.col("event_type").alias("p_et"),
            F.col("user_id").alias("p_uid"),
        )
        firsts = firsts.join(
            p,
            F.col("event_type").eqNullSafe(F.col("p_et"))
            & (F.col("user_id") == F.col("p_uid")),
            "left_anti",
        )
    write_batch(firsts, batch_id, pairs_dir)
    write_batch(
        ev.select("event_type", "h").distinct(),
        batch_id,
        state_dir + "/grid",
    )


def distinct_curve(spark, state_dir: str) -> DataFrame:
    """The LIVE curve: feed the persisted pairs/grid state through the
    SAME `distinct_curve_frames` read-off as batch q65 (twin-tested
    equal for time-ordered cuts)."""
    from kafka2clickhouse_py_streamer_spark.operators.windows import (
        distinct_curve_frames,
    )

    pairs = spark.read.parquet(state_dir + "/pairs").select(
        "event_type", "user_id", "h"
    )
    grid = (
        spark.read.parquet(state_dir + "/grid")
        .select("event_type", "h")
        .distinct()
    )
    return distinct_curve_frames(pairs, grid)

"""Streaming twins of the corpus-maintenance operators.

A production corpus pipeline runs the batch build (p05/p07) once; after
that, every new crawl/delivery streams through incremental operators.
p09 (incremental refresh) got its streaming twin in round 3; this module
adds the others a streaming corpus pipeline needs:

- **exact dedup (d01's semantics) under readStream** — foreachBatch
  with a persisted fingerprint state table: each micro-batch dedups
  within itself (keep min id per md5 fingerprint), anti-joins the
  digest state accumulated from all prior batches, appends the admitted
  rows to the output and their digests to the state. First-batch-seen
  wins across batches; min-id wins within a batch — equal to batch
  d01's min-id canonical whenever arrival order follows the id (true
  for an append-only ingest key).

- **PII scrub (t09's transformation) under readStream** — the scrub is
  a pure projection (JVM regexes, no shuffle, no state), so the SAME
  ``llm.text.scrub_pii`` code runs on the streaming frame unchanged.

- **near-dup admission (d14's predicate) under readStream** — greedy
  LSH bucket-claim with a persisted band-key claim table; admitted set
  equals the batch d14 predicate for id-ordered arrival, independent
  of micro-batch cuts (see ``neardup_admit_batch``).

Scale + recovery notes:

- State is a parquet table of 128-bit digests partitioned by
  ``batch_id`` — digests cross the wire, never bodies (d01's rule). At
  100 TB of corpus the state table is ~16 bytes x |unique docs|, a
  normal equi-join side; the anti-join prunes nothing from the stream
  scan but shuffles only digests.
- Replay-safe by construction (``streaming.state``): every write goes
  to a ``batch_id=N`` partition under dynamic partition overwrite, and
  the state read filters out the current ``batch_id``, so foreachBatch
  re-delivery (the at-least-once contract after a restart from
  checkpoint) overwrites its own partition instead of double-admitting.
- The micro-batch is persisted before the two writes so admission is
  computed once (micro-batches are bounded — the reference polls 25k
  rows/batch — so this pins one micro-batch, not the corpus).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka2clickhouse_py_streamer_spark.llm.text import scrub_pii
from kafka2clickhouse_py_streamer_spark.streaming.state import (
    _fs,
    compact,
    read_prior,
    write_batch,
)


def dedup_admit_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Admit one micro-batch against the persisted fingerprint state.

    Module-level (not a closure) so the admission contract is testable
    without a running stream — including replay idempotency, which is a
    property of THIS function, not of the stream wiring around it.
    """
    spark = batch_df.sparkSession
    fp = F.md5(F.col(text_col))
    keyed = batch_df.withColumn("fp", fp)
    keeper = F.min(id_col).over(Window.partitionBy("fp"))
    uniq = (
        keyed.withColumn("_keeper", keeper)
        .filter(F.col(id_col) == F.col("_keeper"))
        .drop("_keeper")
    )
    # replay safety: read_prior never includes our own partition
    state = read_prior(spark, state_dir, batch_id)
    if state is None:  # first batch: state path absent
        admitted = uniq
    else:
        admitted = uniq.join(state.select("fp"), "fp", "left_anti")
    admitted = admitted.persist()
    try:
        admitted.count()  # materialize once; both writes read the cache
        write_batch(admitted, batch_id, out_dir)
        write_batch(admitted.select("fp"), batch_id, state_dir)
    finally:
        admitted.unpersist()


def neardup_admit_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """NEAR-dup admission for one micro-batch: greedy LSH bucket-claim
    (d14's batch predicate, computed incrementally).

    A document is admitted iff every one of its MinHash band buckets is
    unclaimed — where buckets are claimed by ALL previously seen docs
    (admitted or not) and, within the batch, by the bucket's min-id doc.
    Claiming by seen-not-just-admitted docs is what makes the decision
    independent of micro-batch cuts: the global predicate is simply
    "d == min id ever seen in each of its buckets" (d14), regardless of
    where batch boundaries fall — provided ids arrive in nondecreasing
    order across batches (an append-only ingest key), the same caveat
    as the exact-dedup twin above.

    State is the (band_id, band_key) claim set partitioned by batch_id
    — band keys cross the wire, never bodies; replay overwrites its own
    partition (same dynamic-overwrite + self-exclusion contract as
    ``dedup_admit_batch``)."""
    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        minhash_band_keys,
    )

    spark = batch_df.sparkSession
    bands = minhash_band_keys(batch_df, id_col=id_col, text_col=text_col)
    bucket_min = bands.groupBy("band_id", "band_key").agg(
        F.min(id_col).alias("bmin")
    )
    # within-batch blocks: any band whose bucket has an earlier doc
    blocked_within = (
        bands.join(bucket_min, ["band_id", "band_key"])
        .filter(F.col("bmin") < F.col(id_col))
        .select(id_col)
        .distinct()
    )
    state = read_prior(spark, state_dir, batch_id)
    if state is None:  # first batch: state path absent
        blocked = blocked_within
    else:
        blocked_state = (
            bands.join(
                state.select("band_id", "band_key"),
                ["band_id", "band_key"],
            )
            .select(id_col)
            .distinct()
        )
        blocked = blocked_within.union(blocked_state).distinct()
    bands = bands.persist()
    try:
        bands.count()
        write_batch(
            batch_df.join(blocked, id_col, "left_anti"), batch_id, out_dir
        )
        write_batch(bands, batch_id, state_dir)
    finally:
        bands.unpersist()


def semdedup_admit_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    state_dir: str,
    n_planes: int | None = None,
) -> None:
    """SEMANTIC near-dup admission for one micro-batch (d15's
    pessimistic predicate, computed incrementally): a vector is
    admitted iff NO smaller-id bucket-mate — within this batch or among
    ALL previously seen vectors — is τ-similar by rounded cosine.

    Cut-independence mirrors the d14 admitter: the state carries every
    SEEN vector (admitted or not), so for id-ordered arrival the
    global predicate is exactly batch d15's "∃ τ-similar smaller-id
    bucket-mate", wherever the micro-batch boundaries fall.

    State here stores the VECTORS (bucket, vec_id, v, norm) — unlike
    the digest/band-key states above, the semantic decision needs the
    actual embedding to score new arrivals against. At 100 TB of
    corpus that is |docs| × 512 B of floats — the same footprint as
    the embedding column itself, partitioned by batch_id, bucket-
    pruned on every probe join (candidates come only from bucket
    collisions). Replay overwrites its own partition (dynamic
    overwrite + self-exclusion, the module contract).

    ``n_planes`` is a STREAM-LIFETIME parameter, not per-batch derived
    (round-12): the state stores bucket ids across micro-batches, so
    every batch of one stream must hash with the same plane count — a
    corpus-count-derived value would drift as the stream grows and
    stop matching the stored buckets. Size it once at stream start
    from the EXPECTED corpus (``planes_for(expected_n)``); the default
    is the fixture floor MIN_PLANES, which also keeps the streamed
    admitter the exact twin of batch d15 at fixture scale."""
    from kafka2clickhouse_py_streamer_spark.functions import (
        cosine,
        l2_norm,
        to_double_vec,
        valid_embeddings,
    )
    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        DIM,
        MIN_PLANES,
        SEMDEDUP_TAU,
        _bucket_expr,
        semdedup_pruned,
    )

    if n_planes is None:
        n_planes = MIN_PLANES

    spark = batch_df.sparkSession
    vec_d = to_double_vec("embedding")
    # persist the TAGGED frame itself (not a derived child): the
    # within-batch self-join reads it twice and the state probe a
    # third time — caching is plan-identity based, so persisting only
    # a derived frame would recompute the validity gate + bucket
    # hashing (n_planes 64-dim dots per row) on every consumer
    tagged = (
        valid_embeddings(batch_df, DIM)
        .select("vec_id", vec_d.alias("v"))
        .withColumn("norm", l2_norm(F.col("v")))
        .withColumn("bucket", _bucket_expr(n_planes))
        .persist()
    )
    blocked_within = semdedup_pruned(tagged).select("vec_id")
    state = read_prior(spark, state_dir, batch_id)
    if state is None:  # first batch: state path absent
        blocked = blocked_within
    else:
        # FAIL LOUDLY on out-of-order arrival (round-4 advice): the
        # cut-independence contract holds only for increasing vec_id
        # across batches — an out-of-order batch containing a smaller
        # id than an already-admitted τ-similar mate would leave the
        # earlier admission in place and silently diverge from batch
        # d15. Dying with the violation beats diverging. (A deployment
        # would carry the high-water mark in a one-row sidecar instead
        # of aggregating the state table per batch; at test/maintenance
        # scale the two tiny aggs are fine.)
        hwm = state.agg(F.max("vec_id")).first()[0]
        low = tagged.agg(F.min("vec_id")).first()[0]
        if hwm is not None and low is not None and low <= hwm:
            tagged.unpersist()
            raise ValueError(
                "semdedup_admit_batch: out-of-order arrival — min "
                f"incoming vec_id {low} <= max previously seen {hwm}; "
                "the incremental admission predicate requires "
                "increasing vec_id across micro-batches (append-only "
                "ingest key)"
            )
        s = state.select("vec_id", "v", "norm", "bucket").alias("s")
        t = tagged.alias("t")
        cos = F.round(cosine("s.v", "t.v", "s.norm", "t.norm"), 6)
        blocked_state = (
            t.join(
                s,
                (F.col("s.bucket") == F.col("t.bucket"))
                & (F.col("s.vec_id") < F.col("t.vec_id")),
            )
            .filter(cos >= SEMDEDUP_TAU)
            .select("t.vec_id")
            .distinct()
        )
        blocked = blocked_within.union(blocked_state).distinct()
    try:
        admitted = tagged.join(blocked, "vec_id", "left_anti")
        write_batch(admitted.select("vec_id", "bucket"), batch_id, out_dir)
        write_batch(tagged, batch_id, state_dir)
    finally:
        tagged.unpersist()


def start_streaming_semdedup(
    stream_df: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    n_planes: int | None = None,
) -> StreamingQuery:
    """Wire ``semdedup_admit_batch`` under writeStream.foreachBatch.
    ``n_planes`` is fixed for the stream's lifetime (see the batch
    fn's contract); size it from the expected corpus via
    ``planes_for``. Leaving it unset falls back to the fixture floor
    MIN_PLANES (16 buckets FOREVER — the quadratic occupancy trap the
    batch d15 path auto-avoids) and therefore WARNS once at stream
    start: a production stream must pass ``planes_for(expected_n)``
    explicitly (round-12 ADVICE — the silent default also silently
    diverges from batch-d15 results past ~512 vectors, because batch
    d15 derives a larger count from the corpus it scans)."""
    if n_planes is None:
        import warnings

        from kafka2clickhouse_py_streamer_spark.llm.similarity import (
            MIN_PLANES,
        )

        warnings.warn(
            "start_streaming_semdedup: n_planes not set — defaulting "
            f"to the fixture floor MIN_PLANES={MIN_PLANES} "
            f"({1 << MIN_PLANES} buckets for the stream's LIFETIME). "
            "Per-bucket occupancy grows with the corpus and the "
            "candidate join pays occupancy^2; size the stream at "
            "start with n_planes=planes_for(expected_corpus_size).",
            stacklevel=2,
        )
    return (
        stream_df.writeStream.foreachBatch(
            partial(
                semdedup_admit_batch,
                out_dir=out_dir, state_dir=state_dir, n_planes=n_planes,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def rag_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    state_dir: str,
    budget: int = 512,
    n_shards: int = 4,
) -> None:
    """One micro-batch of the STREAMING RAG-index ingest — the
    foreachBatch twin of the p19 flagship composition (chunk → exact
    chunk-dedup keep-first → per-shard packing), with BOTH stateful
    legs persisted across batches:

    - chunk-fingerprint state (``state_dir/fps``) makes the dedup
      keep-FIRST across micro-batches: a chunk seen in any prior batch
      is never re-admitted (same admission contract as
      ``dedup_admit_batch``, keyed on chunk_fp);
    - per-shard token-mass state (``state_dir/mass``) carries the pack
      offsets: this batch's packs start where the shard's prior
      admitted mass ended, so pack positions are contiguous across the
      whole stream — equality with the batch ``chunk_dedup_pack`` over
      any doc_id-ordered micro-batch cut is the twin test.

    Replay idempotence follows the module's standing design: state
    reads EXCLUDE the current batch's partition, and all three writes
    are dynamic partition overwrites of ``batch_id=<this batch>`` —
    replaying a failed batch recomputes the identical admitted set and
    offsets and overwrites its own partitions, never double-admitting
    or double-advancing. Requires doc_id-nondecreasing intake order
    across batches (the deterministic shard-writer precondition shared
    with ``streaming_chunk_packer``); n_copies is deliberately NOT
    emitted — a stream cannot know future duplicate counts."""
    from kafka2clickhouse_py_streamer_spark.llm.sampling import (
        chunk_pack_batch,
    )
    from kafka2clickhouse_py_streamer_spark.llm.text import chunk_passages

    spark = batch_df.sparkSession
    fps_dir = os.path.join(state_dir, "fps")
    mass_dir = os.path.join(state_dir, "mass")

    chunks = chunk_passages(batch_df)
    w = Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_id")
    uniq = (
        chunks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    state = read_prior(spark, fps_dir, batch_id)
    admitted = (
        uniq
        if state is None
        else uniq.join(state.select("chunk_fp"), "chunk_fp", "left_anti")
    )
    kept = admitted.select(
        (F.col("doc_id") % n_shards).cast("long").alias("shard"),
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        "chunk_fp",
    ).persist()
    try:
        kept.count()  # materialize once; packing + both states read it
        prior_mass = read_prior(spark, mass_dir, batch_id)
        local = chunk_pack_batch(
            kept.select("shard", "doc_id", "chunk_id", "n_chunk_tokens"),
            budget,
        )
        if prior_mass is not None:
            base = prior_mass.groupBy("shard").agg(
                F.sum("mass").cast("long").alias("base")
            )
            local = local.join(F.broadcast(base), "shard", "left")
        else:
            local = local.withColumn("base", F.lit(None).cast("long"))
        goff = F.coalesce(F.col("base"), F.lit(0)) + F.col("stream_offset")
        packed = local.select(
            "shard",
            "doc_id",
            "chunk_id",
            "n_chunk_tokens",
            goff.alias("stream_offset"),
            F.floor(goff / budget).cast("long").alias("pack_id"),
            (goff % budget).cast("long").alias("offset_in_pack"),
        )
        write_batch(packed, batch_id, out_dir)
        write_batch(kept.select("chunk_fp"), batch_id, fps_dir)
        write_batch(
            kept.groupBy("shard").agg(
                F.sum("n_chunk_tokens").cast("long").alias("mass")
            ),
            batch_id,
            mass_dir,
        )
    finally:
        kept.unpersist()


def index_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    cents: dict[int, list[float]],
) -> None:
    """One micro-batch of STREAMING ANN-index ingest: every arriving
    vector is assigned to its coarse cell using the FROZEN trained
    centroids (the index configuration — broadcast as literals into
    the scan projection, s05's assignment) and appended to a persisted
    index table partitioned by ``(cell, batch_id)``. This is how an
    IVF index is maintained incrementally at scale: the expensive
    Lloyd training runs offline (s05), ingest is a stateless
    projection per batch, and s20's staleness audit decides when the
    frozen centroids need retraining.

    Cell-partitioned storage is the point: a probe query equi-joins on
    ``cell``, so the parquet reader PRUNES to the probed cells'
    directories — at 100 TB the query touches |probed cells| / K of
    the index files, never the whole table. No state read is needed
    (assignment is deterministic in (vector, centroids)); replay after
    a failure recomputes the identical cells and dynamic-overwrites
    its own ``batch_id`` partitions, so re-delivery never duplicates
    index entries."""
    from kafka2clickhouse_py_streamer_spark.functions import (
        l2_norm,
        to_double_vec,
        valid_embeddings,
    )
    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        DIM,
        _assign_cell_df,
    )

    if not cents:
        # an empty centroid set means there is NO index configuration;
        # silently writing nothing would drop the batch's vectors —
        # fail loudly at the first micro-batch instead
        raise ValueError(
            "index_ingest_batch: empty centroid set — train centroids "
            "(s05's _train_centroids) before wiring the ingest stream"
        )
    vec_d = to_double_vec("embedding")
    base = (
        valid_embeddings(batch_df, DIM)
        .select("vec_id", vec_d.alias("v"))
        .withColumn("norm", l2_norm(F.col("v")))
    )
    write_batch(
        _assign_cell_df(base, cents), batch_id, index_dir, by=("cell",)
    )


def query_streamed_index(
    spark,
    index_dir: str,
    queries_df: DataFrame,
    cents: dict[int, list[float]],
    top_k: int | None = None,
) -> DataFrame:
    """s05's probe against the PERSISTED streamed index: queries
    assign to their nearest cell (same frozen centroids) and meet the
    index on a ``cell`` equi-join. Because the index is partitioned by
    ``cell``, the probe's join keys reach the reader as partition
    filters — only the probed cells' files are scanned. Returns the
    s05 result shape (query_id, cand_id, cell, cosine, rk) so the
    streamed index can be twin-tested against the batch IVF query.
    ``top_k`` defaults to similarity.TOP_K — the constant defining
    the s05 shape this query mirrors."""
    from kafka2clickhouse_py_streamer_spark.functions import (
        cosine as cosine_fn,
        l2_norm,
        to_double_vec,
        valid_embeddings,
    )
    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        DIM,
        TOP_K,
        _assign_cell_df,
    )

    if top_k is None:
        top_k = TOP_K
    if not cents:
        # match s05's no-centroids contract: a typed empty result
        return spark.createDataFrame(
            [],
            "query_id long, cand_id long, cell long, cosine double,"
            " rk long",
        )
    vec_d = to_double_vec("embedding")
    qbase = (
        valid_embeddings(queries_df, DIM)
        .select("vec_id", vec_d.alias("v"))
        .withColumn("norm", l2_norm(F.col("v")))
    )
    q = _assign_cell_df(qbase, cents).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "cell",
    )
    idx = spark.read.parquet(index_dir).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "cell",
    )
    scored = F.broadcast(q).join(idx, "cell").select(
        "query_id",
        "cand_id",
        "cell",
        F.round(
            cosine_fn("qv", "cv", "qnorm", "cnorm"), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= top_k)
        .orderBy("query_id", "rk")
    )


def compact_index(
    spark, index_dir: str, through_batch: int,
    _crash_point: str | None = None,
) -> int:
    """Fold the streamed ANN index's per-batch partitions into one
    compacted partition PER CELL. ``index_ingest_batch`` lays the index
    out as ``cell=X/batch_id=N``, so each cell directory is itself a
    batch_id-partitioned table and ``state.compact``'s
    crash-recoverable fold-and-swap (with a DISTINCT fold) applies
    verbatim per cell: a year of 30 s micro-batches is ~1M tiny files
    per cell without this, and probe queries then spend longer listing
    files than scanning them.

    Each cell carries ``state.compact``'s whole safety contract
    (write-to-temp → marker → delete → rename; an interrupted swap is
    rolled forward or back on the next call), and its operational
    caveat: only compact batches the ingest stream's checkpoint has
    committed — a replay of a compacted batch would re-append rows the
    compacted partition already holds. Returns the total number of
    per-batch partitions removed across all cells (a cell holding only
    its compacted partition is left untouched, so re-running over
    already-compacted cells reports 0).

    ``_crash_point`` is the per-cell fault-injection seam: the first
    cell with foldable partitions dies at the chosen point of ITS swap
    and the remaining cells go untouched — the realistic
    partial-maintenance crash (one cell mid-swap, the rest unfolded)
    the index soak arm injects; the next ``compact_index`` call must
    recover that one cell and fold the rest (tools/streaming_soak.py)."""
    _, fs, root = _fs(spark, index_dir)
    return sum(
        compact(
            spark, str(st.getPath()), through_batch, DataFrame.distinct,
            _crash_point=_crash_point,
        )
        for st in fs.listStatus(root)
        if st.getPath().getName().startswith("cell=")
    )


def scrub_stream(stream_df: DataFrame, text_col: str = "text") -> DataFrame:
    """t09's scrub on a streaming frame: identical code, no state —
    compose with any sink (``writeStream.format("parquet")`` in
    production; the twin test uses the memory sink)."""
    return scrub_pii(stream_df, text_col)

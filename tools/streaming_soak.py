#!/usr/bin/env python
"""End-to-end streaming soak: N micro-batches of the full RAG-ingest
composition (chunk → cross-batch exact chunk-dedup → per-shard packing
with persisted offsets) through the REAL Structured Streaming machinery
(writeStream.foreachBatch + file source + checkpoint), with

- a KILL mid-run (query stopped between commits) and a RESUME from the
  checkpoint that must continue — not restart — the stream,
- a mid-soak state compaction of the fingerprint store (the additive
  per-shard mass store is deliberately NOT folded: a DISTINCT fold is
  correct for claim/digest layouts, not for summands) —
  KILLED MID-FOLD (after the commit marker, before delete/rename, via
  the fault-injection seam): one full micro-batch then streams over
  the mid-swap state, and the next maintenance call must roll the
  swap forward (r10 verdict item 8),
- a per-batch state-store size curve (fps/mass/checkpoint bytes +
  file counts): a claim of "replay-idempotent stateful streaming"
  backed by a run of system behavior, not only unit twins,
- the final twin check: the union of all streamed micro-batch outputs
  must equal the BATCH p19 composition (`chunk_dedup_pack`) over the
  same corpus, row for row.

Prints the result as one JSON line on stdout (progress goes to
stderr) and exits nonzero when any check fails.

Usage: python tools/streaming_soak.py [--batches 10]
       [--kill-after 4] [--sf-dir /root/testdata/sf0.01]

CAUTION: do not run concurrently with bench.py or perfbench — they
fight for the same local cores and skew timings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

RAG_COLS = [
    "shard", "doc_id", "chunk_id", "n_chunk_tokens",
    "stream_offset", "pack_id", "offset_in_pack",
]


def dir_stats(path: str) -> dict:
    """Recursive (bytes, files) of a directory tree — the state-store
    size curve's sample unit."""
    total, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                total += os.path.getsize(p)
                files += 1
            except OSError:
                pass
    return {"bytes": total, "files": files}


def ivf_index_soak(spark, sf_dir: str) -> dict:
    """Kill-mid-swap arm for the STREAMED IVF index compactor (round-11
    verdict order 6): the generic state compactor is crash-proven by
    the arm above, but ``compact_index`` reuses the fold-and-swap PER
    CELL, and its own crash window — one cell mid-swap after its
    commit marker, sibling cells unfolded — was untested. Shape:

    1. stream the embedding corpus into the (cell, batch_id)-
       partitioned index through real readStream + foreachBatch +
       checkpoint; probe it (query_streamed_index);
    2. ``compact_index`` dies AFTER the first foldable cell's commit
       marker (fault-injection seam) — that cell holds a complete
       temp fold + untouched sources, the rest untouched;
    3. the probe re-runs OVER the mid-swap index (dot-prefixed temp is
       invisible; sources still present) and must return identical
       rows; one full micro-batch then streams over the mid-swap
       index;
    4. the next ``compact_index`` call rolls the crashed cell FORWARD
       and folds the siblings; remaining batches stream; a final
       compaction folds everything to one partition per cell;
    5. twins: index content == the batch cell assignment over the full
       corpus, vec_ids unique, and every cell dir ends at exactly one
       ``batch_id=-1`` partition.
    """
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        N_QUERIES,
        _assign_cell_df,
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

    work = tempfile.mkdtemp(prefix="ivf_soak_")
    src = os.path.join(work, "intake")
    idx = os.path.join(work, "index")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)

    base = _base(spark, sf_dir)
    cents = _train_centroids(base, sf_dir)
    em = table(spark, sf_dir, "embeddings")
    corpus = em.filter(F.col("vec_id") >= N_QUERIES)
    queries = em.filter(F.col("vec_id") < N_QUERIES)
    ids = sorted(r[0] for r in corpus.select("vec_id").collect())
    n_batches = 6
    per = (len(ids) + n_batches - 1) // n_batches
    bounds = [ids[i * per] for i in range(n_batches)] + [ids[-1] + 1]

    def feed(i: int) -> None:
        corpus.filter(
            (F.col("vec_id") >= bounds[i])
            & (F.col("vec_id") < bounds[i + 1])
        ).coalesce(1).write.mode("append").parquet(src)

    def probe() -> set:
        return {
            tuple(r)
            for r in query_streamed_index(
                spark, idx, queries, cents
            ).collect()
        }

    stream = spark.readStream.schema(corpus.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            partial(index_ingest_batch, index_dir=idx, cents=cents)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    out: dict = {"n_batches": n_batches, "n_corpus": len(ids)}
    try:
        for i in range(3):  # batches 0..2 committed
            feed(i)
            q.processAllAvailable()
        probe_before = probe()
        stats_before = dir_stats(idx)
        crashed = False
        try:
            compact_index(spark, idx, 2, _crash_point="after_marker")
        except CompactionCrash:
            crashed = True
        stats_mid = dir_stats(idx)
        probe_mid = probe()
        feed(3)  # one full micro-batch OVER the mid-swap index
        q.processAllAvailable()
        folded = compact_index(spark, idx, 2)  # recovery: roll forward
        for i in (4, 5):
            feed(i)
            q.processAllAvailable()
        final_folded = compact_index(spark, idx, 5)
        stats_after = dir_stats(idx)
    finally:
        q.stop()

    streamed = {
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(idx).select("vec_id", "cell").collect()
    }
    expected = {
        (r.vec_id, int(r.cell))
        for r in _assign_cell_df(
            base.filter(F.col("vec_id") >= N_QUERIES), cents
        ).select("vec_id", "cell").collect()
    }
    cell_parts = {}
    for cell in os.listdir(idx):
        if cell.startswith("cell="):
            cell_parts[cell] = sorted(
                p for p in os.listdir(os.path.join(idx, cell))
                if p.startswith("batch_id=")
            )
    one_compacted_each = all(
        parts == [f"batch_id={COMPACTED_BATCH_ID}"]
        for parts in cell_parts.values()
    )
    out.update({
        "crash_injected": "after_marker",
        "crashed": crashed,
        "index_before": stats_before,
        "index_mid_swap": stats_mid,
        "index_after": stats_after,
        "probe_stable_over_mid_swap": probe_mid == probe_before,
        "probe_rows": len(probe_before),
        "recovery_partitions_folded": folded,
        "final_partitions_folded": final_folded,
        "cells": len(cell_parts),
        "one_compacted_partition_per_cell": one_compacted_each,
        "index_matches_batch_assignment": streamed == expected,
        "vec_ids_unique": len({v for v, _ in streamed}) == len(streamed),
        "rows_indexed": len(streamed),
    })
    shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=10)
    ap.add_argument("--kill-after", type=int, default=4,
                    help="stop the query after this many committed "
                         "batches, then resume from the checkpoint")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--budget", type=int, default=128)
    ap.add_argument("--n-shards", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.llm.sampling import (
        chunk_dedup_pack,
    )
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.session import get_spark
    from kafka2clickhouse_py_streamer_spark.streaming.corpus_stream import (
        rag_ingest_batch,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.state import (
        CompactionCrash,
        compact,
    )

    spark = get_spark(app_name="streaming_soak")
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        table(spark, args.sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    n_docs = len(docs)
    per = (n_docs + args.batches - 1) // args.batches
    slices = [docs[i * per : (i + 1) * per] for i in range(args.batches)]
    slices = [s for s in slices if s]
    # The soak's shape needs a kill strictly inside the corpus (so the
    # resume has batches left to take) AND at least 2 post-resume
    # batches (the mid-soak compaction fires at killed_at + 2). Fail
    # fast here — before any query starts — instead of asserting after
    # the whole feed loop has run with a live query leaked (r7 advice).
    if not 0 < args.kill_after <= len(slices) - 4:
        ap.error(
            f"--kill-after must be in [1, {len(slices) - 4}] for "
            f"{len(slices)} non-empty batches (need >=3 post-resume "
            "batches: the crash-injected compaction fires at kill+2 "
            "and its recovery at kill+3)"
        )

    work = tempfile.mkdtemp(prefix="rag_soak_")
    src = os.path.join(work, "intake")
    out = os.path.join(work, "out")
    state = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)

    def start():
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        return (
            stream.writeStream.foreachBatch(
                partial(
                    rag_ingest_batch, out_dir=out, state_dir=state,
                    budget=args.budget, n_shards=args.n_shards,
                )
            )
            .option("checkpointLocation", ckpt)
            .start()
        )

    def feed(i: int) -> None:
        # one file per micro-batch, doc_id-nondecreasing across files
        # (the deterministic shard-writer precondition)
        spark.createDataFrame(
            slices[i], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)

    def sample(phase: str, i: int, wall: float) -> dict:
        return {
            "batch": i,
            "phase": phase,
            "wall_sec": round(wall, 3),
            "fps_state": dir_stats(os.path.join(state, "fps")),
            "mass_state": dir_stats(os.path.join(state, "mass")),
            "checkpoint": dir_stats(ckpt),
            "output": dir_stats(out),
        }

    curve: list[dict] = []
    q = start()
    killed_at = None
    try:
        for i in range(len(slices)):
            feed(i)
            t0 = time.perf_counter()
            q.processAllAvailable()
            curve.append(sample("pre-kill", i, time.perf_counter() - t0))
            print(f"batch {i}: {curve[-1]['wall_sec']}s "
                  f"fps={curve[-1]['fps_state']['bytes']}B",
                  file=sys.stderr, flush=True)
            if i + 1 == args.kill_after:
                q.stop()          # the KILL: stream dies mid-corpus
                killed_at = i
                break
    except Exception:
        q.stop()
        raise

    assert killed_at is not None, "kill-after exceeds batch count"

    # Harden the kill: delete the newest commit marker so the restart
    # sees batch `killed_at` as UNCOMMITTED — the crash-between-
    # foreachBatch-and-commit window — and must REPLAY it through
    # rag_ingest_batch before taking new data. The partition-overwrite
    # design makes that replay a no-op on the output (snapshot it to
    # prove so).
    commits_dir = os.path.join(ckpt, "commits")
    last_commit = max(
        int(f) for f in os.listdir(commits_dir) if f.isdigit()
    )
    os.remove(os.path.join(commits_dir, str(last_commit)))
    crc = os.path.join(commits_dir, f".{last_commit}.crc")
    if os.path.exists(crc):  # Hadoop local-FS checksum sidecar: the
        os.remove(crc)       # re-commit's rename collides with it
    pre_replay = {
        tuple(r)
        for r in spark.read.parquet(out)
        .filter(f"batch_id = {last_commit}")
        .select(*RAG_COLS)
        .collect()
    }

    # RESUME: a fresh query on the same checkpoint replays the
    # uncommitted batch, then takes the remaining slices as new batches
    q = start()
    t0 = time.perf_counter()
    q.processAllAvailable()  # the replay of batch `last_commit`
    replay_wall = round(time.perf_counter() - t0, 3)
    post_replay = {
        tuple(r)
        for r in spark.read.parquet(out)
        .filter(f"batch_id = {last_commit}")
        .select(*RAG_COLS)
        .collect()
    }
    replay = {
        "replayed_batch": last_commit,
        "wall_sec": replay_wall,
        "idempotent": pre_replay == post_replay,
        "rows": len(post_replay),
    }
    print(f"replayed uncommitted batch {last_commit}: "
          f"idempotent={replay['idempotent']} "
          f"({len(post_replay)} rows, {replay_wall}s)",
          file=sys.stderr, flush=True)
    compaction = None  # set at killed_at + 2; the argparse guard above
    # guarantees that point is reached, but a None here must still
    # produce a valid (compaction-absent) artifact, not a NameError
    try:
        for i in range(killed_at + 1, len(slices)):
            feed(i)
            t0 = time.perf_counter()
            q.processAllAvailable()
            curve.append(sample("post-resume", i, time.perf_counter() - t0))
            print(f"batch {i} (resumed): {curve[-1]['wall_sec']}s "
                  f"fps={curve[-1]['fps_state']['bytes']}B",
                  file=sys.stderr, flush=True)
            if i == killed_at + 2:
                # mid-soak maintenance with a KILL MID-FOLD (r10
                # verdict item 8): the first compaction attempt dies
                # AFTER its commit marker (fold materialized, sources
                # not yet deleted, rename not done) via the
                # fault-injection seam — the mid-swap state (dot-
                # prefixed temp is invisible to parquet listings) must
                # leave the live stream's admission untouched for the
                # NEXT full batch, and the following maintenance call
                # must roll the swap FORWARD, not refold or lose
                # claims. Fold committed fingerprint partitions only
                # (NOT mass — DISTINCT would collapse equal summands).
                fps_dir = os.path.join(state, "fps")
                fps_before = dir_stats(fps_dir)
                crashed = False
                try:
                    compact(
                        spark, fps_dir, i - 1, DataFrame.distinct,
                        _crash_point="after_marker",
                    )
                except CompactionCrash:
                    crashed = True
                fps_mid_swap = dir_stats(fps_dir)
                compaction = {
                    "after_batch": i,
                    "crash_injected": "after_marker",
                    "crashed": crashed,
                    "fps_before": fps_before,
                    "fps_mid_swap": fps_mid_swap,
                }
                print(f"compaction killed mid-fold after batch {i} "
                      f"(state {fps_mid_swap['files']} files incl. "
                      "temp)", file=sys.stderr, flush=True)
            if i == killed_at + 3 and compaction is not None:
                # next maintenance call: recovery rolls forward, then
                # folds whatever accreted since (the batch streamed
                # OVER the mid-swap state)
                fps_dir = os.path.join(state, "fps")
                folded = compact(
                    spark, fps_dir, i - 1, DataFrame.distinct
                )
                fps_after = dir_stats(fps_dir)
                compaction.update({
                    "recovered_after_batch": i,
                    "partitions_folded": folded,
                    "fps_after": fps_after,
                })
                print(f"recovered + compacted {folded} fps "
                      f"partitions: {compaction['fps_before']['files']}"
                      f" -> {fps_after['files']} files",
                      file=sys.stderr, flush=True)
    finally:
        q.stop()

    # TWIN: streamed union == batch composition over the whole corpus
    streamed = {
        tuple(r)
        for r in spark.read.parquet(out).select(*RAG_COLS).collect()
    }
    full = spark.createDataFrame(docs, "doc_id long, text string")
    batch = {
        tuple(r)
        for r in chunk_dedup_pack(
            full, budget=args.budget, n_shards=args.n_shards
        ).select(*RAG_COLS).collect()
    }
    twin_equal = streamed == batch
    n_batches_seen = (
        spark.read.parquet(out)
        .select(F.countDistinct("batch_id"))
        .first()[0]
    )

    ivf = ivf_index_soak(spark, args.sf_dir)
    print(f"ivf index arm: crash={ivf['crashed']} "
          f"probe_stable={ivf['probe_stable_over_mid_swap']} "
          f"twin={ivf['index_matches_batch_assignment']} "
          f"one_part_per_cell={ivf['one_compacted_partition_per_cell']}",
          file=sys.stderr, flush=True)

    artifact = {
        "what": "streaming RAG-ingest soak: kill-and-resume + state "
                "compaction + batch-twin equality + IVF-index "
                "kill-mid-swap compaction arm",
        "sf_dir": args.sf_dir,
        "n_docs": n_docs,
        "n_batches": len(slices),
        "killed_after_batch": killed_at,
        "uncommitted_replay": replay,
        "micro_batches_committed": n_batches_seen,
        "budget": args.budget,
        "n_shards": args.n_shards,
        "state_size_curve": curve,
        "compaction": compaction,
        "twin_equal": twin_equal,
        "rows_streamed": len(streamed),
        "rows_batch": len(batch),
        "ivf_index_compaction": ivf,
    }
    print(json.dumps(artifact), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    if not twin_equal or not replay["idempotent"]:
        sys.exit(1)
    if not (
        ivf["crashed"]
        and ivf["probe_stable_over_mid_swap"]
        and ivf["index_matches_batch_assignment"]
        and ivf["vec_ids_unique"]
        and ivf["one_compacted_partition_per_cell"]
    ):
        sys.exit(1)


if __name__ == "__main__":
    main()

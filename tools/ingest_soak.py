"""Kill/replay soak of the PARITY ingest pipeline (PipelineJob).

tools/streaming_soak.py proves kill/replay for the streaming corpus
(RAG) path; this tool checks the same property for the
reference-parity pipeline itself — JSON decode → validate/DLQ split →
typed cast → sink under `foreachBatch` with checkpointed offsets
(reference main.py:525-526's at-least-once commit):

  1. feed N micro-batches of the seeded-fault telemetry corpus
     (build_corpus below — ~2% malformed/missing/tombstone rows so
     every routing path is live);
  2. KILL the query after --kill-after commits, then erase the newest
     commit marker — the crash-between-foreachBatch-and-commit window
     (the streaming_soak.py hardening) — so the restart must REPLAY
     that batch wholesale;
  3. resume from the same checkpoint to the end of the corpus;
  4. assert EXACT accounting: valid rows land exactly-once (the sink
     is the batch-id-keyed idempotent parquet sink — the documented
     recipe for upgrading foreachBatch's at-least-once to
     exactly-once file output), the DLQ shows precisely ONE batch's
     rows twice (the non-idempotent at-least-once leg, duplicated by
     design on replay — the overlapped DLQ write makes this window
     REAL: the split lands before the batch commits), and
     valid + unique-DLQ + dropped == fed.

``--drift-on-replay`` (r10, verdict #6) hardens the one restart edge
the plain arm can't see: the sink's schema CHANGES while the killed
batch is waiting to be replayed (ClickHouse ALTERed between the crash
and the restart). The resume runs a FRESH PipelineJob (the process
restart the kill models — no driver-side schema cache) whose provider
serves the drifted schema (speed Float32 → Int32), so the replayed
batch re-validates under the NEW rules: every previously-valid row
reclassifies to the DLQ ("data.speed must be integer"), the idempotent
sink's per-batch overwrite REPLACES the batch's old valid rows with
the now-empty set (replay-under-current-schema wins — the documented
overwrite semantics), and row conservation still holds exactly:
valid + unique-DLQ + dropped == fed, with the reclassified rows
counted on the DLQ side.

Prints the result as one JSON line on stdout and exits nonzero when
any check fails. Run:
  python tools/ingest_soak.py [--rows 200000] [--kill-after 3]
                              [--drift-on-replay]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def build_corpus(spark, intake: str, rows: int, batch: int) -> None:
    """Lay down ceil(rows/batch) parquet files partitioned by ``f`` —
    with maxFilesPerTrigger=1 each trigger consumes one batch, the
    file-stream twin of one poll over a 1-partition topic. File K
    carries corpus ids [K*batch, (K+1)*batch)."""
    from pyspark.sql import functions as F

    n_files = (rows + batch - 1) // batch
    base = spark.range(rows)
    msg = F.to_json(
        F.struct(
            (F.col("id") % 100000).cast("int").alias("device_id"),
            (F.col("id") * 7).alias("trip_id"),
            (F.pmod(F.col("id"), 130) / F.lit(1.7)).alias("speed"),
            (F.pmod(F.col("id"), 1000) / F.lit(997.0)).alias("score"),
            (F.col("id") * 1001).alias("big_ctr"),
            F.concat(F.lit("uuid-"), F.md5(F.col("id").cast("string"))).alias(
                "device_uuid"
            ),
            F.concat(F.lit("evt_"), (F.col("id") % 40).cast("string")).alias(
                "event_name"
            ),
            F.when(F.col("id") % 17 == 0, F.lit("invalid"))
            .otherwise(F.lit("valid"))
            .alias("gps_validity"),
            F.when(F.col("id") % 2 == 0, F.lit("on"))
            .otherwise(F.lit("off"))
            .alias("incognito_mode"),
            (F.col("id") % 2 + 1).cast("int").alias("mode_code"),
            F.date_format(
                F.timestamp_seconds(F.lit(1714550400) + F.col("id") % 86400),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("event_ts"),
            F.lit("2024-05-01").alias("event_date"),
        )
    )
    # seeded fault fraction (~2%), same classes the reference handles:
    # malformed JSON (dropped, main.py:402-407), missing required
    # column (DLQ'd by the validator), empty payload (dropped
    # tombstone, main.py:516-520). range_counts mirrors this chain.
    value = (
        F.when(F.col("id") % 97 == 0, F.concat(msg, F.lit("{truncated")))
        .when(
            F.col("id") % 103 == 0,
            F.to_json(F.struct(F.lit(1).alias("trip_id"))),
        )
        .when(F.col("id") % 101 == 0, F.lit(""))
        .otherwise(msg)
    )
    df = base.select(
        value.alias("value"), (F.col("id") / batch).cast("long").alias("f")
    )
    df.repartition(n_files, "f").write.partitionBy("f").mode(
        "overwrite"
    ).parquet(intake)


def range_counts(lo: int, hi: int) -> tuple[int, int, int]:
    """(valid, dlq, dropped) under the ORIGINAL schema for corpus ids
    [lo, hi). Malformed JSON (i%97) wins the fault chain and is
    dropped; a missing required column (i%103) is DLQ'd; an empty
    tombstone (i%101) is dropped unless i%103 claimed it first."""
    dropped = sum(
        1 for i in range(lo, hi)
        if i % 97 == 0 or (i % 101 == 0 and i % 103 != 0)
    )
    dlq = sum(1 for i in range(lo, hi) if i % 103 == 0 and i % 97 != 0)
    return (hi - lo) - dropped - dlq, dlq, dropped


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--batch", type=int, default=25_000)
    ap.add_argument("--kill-after", type=int, default=3,
                    help="stop after this many committed batches")
    ap.add_argument("--drift-on-replay", action="store_true",
                    help="ALTER the sink schema (speed Float32->Int32) "
                         "between kill and resume; the replayed batch "
                         "re-validates under the new schema")
    args = ap.parse_args()

    n_batches = (args.rows + args.batch - 1) // args.batch
    if not 0 < args.kill_after < n_batches:
        raise SystemExit(
            f"--kill-after must be in [1, {n_batches - 1}] for "
            f"{n_batches} batches"
        )

    from perfbench.gen import CH_COLUMNS

    from kafka2clickhouse_py_streamer_spark.schema.clickhouse import (
        build_table_schema,
    )
    from kafka2clickhouse_py_streamer_spark.session import get_spark
    from kafka2clickhouse_py_streamer_spark.streaming.exactly_once import (
        idempotent_parquet_sink,
        read_idempotent,
    )
    from kafka2clickhouse_py_streamer_spark.streaming.job import (
        PipelineJob,
        StaticSchemaProvider,
    )

    from pyspark.sql import functions as F

    spark = get_spark(app_name="ingest_soak")
    spark.sparkContext.setLogLevel("ERROR")

    schema = build_table_schema(
        CH_COLUMNS,
        required_columns=["device_id", "event_ts"],
        string_enum_columns=["gps_validity", "incognito_mode"],
        datetime_columns=["event_ts", "event_date"],
    )

    work = tempfile.mkdtemp(prefix="ingest_soak_")
    try:
        intake = os.path.join(work, "intake")
        out = os.path.join(work, "out")
        dlq_dir = os.path.join(work, "dlq")
        ckpt = os.path.join(work, "ckpt")
        build_corpus(spark, intake, args.rows, args.batch)

        idem = idempotent_parquet_sink(out)
        current = {"bid": None}
        dlq_calls: list[tuple[int, int]] = []  # (batch_id, rows written)

        def dlq_sink(df):
            n = df.count()
            df.write.mode("append").parquet(dlq_dir)
            dlq_calls.append((current["bid"], n))

        job = PipelineJob(
            StaticSchemaProvider(schema),
            sink=lambda df: idem(df, current["bid"]),
            dlq_sink=dlq_sink,
        )

        def body(df, bid: int) -> None:
            current["bid"] = bid
            job.run_batch(df, bid)

        def start():
            stream = (
                spark.readStream.schema("value string, f long")
                .option("maxFilesPerTrigger", 1)
                .parquet(intake)
                .drop("f")
            )
            # the confs PipelineJob.start would set on the session
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set(
                "spark.sql.inMemoryColumnarStorage.compressed", "false"
            )
            return (
                stream.writeStream.foreachBatch(body)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        t0 = time.perf_counter()
        commits_dir = os.path.join(ckpt, "commits")
        q = start()
        try:
            while True:
                done = (
                    len(
                        [
                            f
                            for f in os.listdir(commits_dir)
                            if f.isdigit()
                        ]
                    )
                    if os.path.isdir(commits_dir)
                    else 0
                )
                if done >= args.kill_after:
                    break
                if not q.isActive:
                    raise SystemExit("query died before the kill point")
                time.sleep(0.2)
        finally:
            q.stop()  # the KILL

        # Harden the kill (the streaming_soak.py pattern, extended):
        # roll the checkpoint back to "crashed mid-batch-N": erase
        # batch N's commit marker so the restart sees it UNCOMMITTED,
        # AND trim any log entries the scheduler raced ahead with
        # (offsets/sources entries for N+1 may be written before the
        # stop lands; left in place they make the restart resume at
        # N+1 and silently skip the replay — observed on the first
        # run of this tool). crc twins go too (a re-commit's rename
        # collides with a stale crc).
        def _trim(d: str, keep_max: int) -> None:
            if not os.path.isdir(d):
                return
            for f in os.listdir(d):
                name = f.lstrip(".").removesuffix(".crc")
                if name.isdigit() and int(name) > keep_max:
                    os.remove(os.path.join(d, f))

        last_commit = max(
            int(f) for f in os.listdir(commits_dir) if f.isdigit()
        )
        _trim(commits_dir, last_commit - 1)
        _trim(os.path.join(ckpt, "offsets"), last_commit)
        _trim(os.path.join(ckpt, "sources", "0"), last_commit)

        drifted_provider = None
        if args.drift_on_replay:
            # the ALTER lands while the crashed batch waits for its
            # replay: Float32 speed becomes Int32, so every float
            # token that was valid is now "data.speed must be
            # integer". The resume uses a FRESH PipelineJob — the
            # process restart the kill models starts with no
            # driver-side schema cache, so the first replayed trigger
            # fetches the drifted schema.
            ch_b = [
                (n, "Int32" if n == "speed" else t) for n, t in CH_COLUMNS
            ]
            schema_b = build_table_schema(
                ch_b,
                required_columns=["device_id", "event_ts"],
                string_enum_columns=["gps_validity", "incognito_mode"],
                datetime_columns=["event_ts", "event_date"],
            )
            drifted_provider = StaticSchemaProvider(schema_b)
            job = PipelineJob(  # noqa: F841 — body() reads the binding
                drifted_provider,
                sink=lambda df: idem(df, current["bid"]),
                dlq_sink=dlq_sink,
            )

        q = start()
        q.awaitTermination()
        wall = round(time.perf_counter() - t0, 3)

        # ---- accounting ----
        valid_rows = read_idempotent(spark, out).count()
        dlq_rows = spark.read.parquet(dlq_dir).count()
        exp_valid, exp_dlq, dropped = range_counts(0, args.rows)

        bids = [b for b, _ in dlq_calls]
        replayed = sorted({b for b in bids if bids.count(b) == 2})
        per_call = dict()
        for b, n in dlq_calls:
            per_call.setdefault(b, []).append(n)

        assert replayed == [last_commit], (replayed, last_commit)
        if args.drift_on_replay:
            # From the replayed batch ONWARD every trigger validates
            # under the drifted schema: old-valid rows reclassify to
            # the DLQ ("data.speed must be integer"), and the
            # idempotent sink's per-batch overwrite replaces the
            # replayed batch's old valid rows with the now-empty set —
            # replay-under-current-schema wins. Only batches committed
            # BEFORE the kill keep their schema-A valid rows.
            #
            # WHICH corpus rows each batch holds is read from the
            # checkpoint's file-source log (batch->file order is a
            # listing detail, not a contract — the first run of this
            # arm caught the by-index assumption off by one file):
            # sources/0/<b> records the consumed file's f=K partition,
            # and file K carries corpus ids [K*batch, (K+1)*batch).
            def batch_rows(b: int) -> tuple[int, int]:
                with open(os.path.join(ckpt, "sources", "0", str(b))) as fh:
                    fvals = [
                        int(m.group(1))
                        for m in re.finditer(r"/f=(\d+)/", fh.read())
                    ]
                assert len(fvals) == 1, (b, fvals)  # 1 file/trigger
                lo = fvals[0] * args.batch
                return lo, min(lo + args.batch, args.rows)

            valid_n, dlq_n, _ = range_counts(*batch_rows(last_commit))
            assert valid_n > 0, "drift arm needs a non-trivial batch"
            assert per_call[last_commit] == [dlq_n, dlq_n + valid_n], (
                per_call[last_commit], dlq_n, valid_n,
            )
            post = sorted(b for b in per_call if b > last_commit)
            reclass_total = valid_n
            for b in post:
                v_b, d_b, _ = range_counts(*batch_rows(b))
                assert per_call[b] == [d_b + v_b], (b, per_call[b])
                reclass_total += v_b
            assert all(
                len(ns) == 1
                for b, ns in per_call.items()
                if b != last_commit
            ), per_call
            exp_valid_final = exp_valid - reclass_total
            unique_dlq = exp_dlq + reclass_total
            dup_rows = dlq_n
            assert valid_rows == exp_valid_final, (
                valid_rows, exp_valid_final,
            )
            assert dlq_rows == exp_dlq + dlq_n + reclass_total, (
                dlq_rows, exp_dlq, dlq_n, reclass_total,
            )
            # the reclassified rows carry the NEW schema's error
            reclassified = (
                spark.read.parquet(dlq_dir)
                .filter(
                    F.col("error").contains("data.speed must be integer")
                )
                .count()
            )
            assert reclassified == reclass_total, (
                reclassified, reclass_total,
            )
            assert drifted_provider.fetch_count >= 1
            assert valid_rows + unique_dlq + dropped == args.rows
        else:
            dup_rows = sum(
                ns[0] for b, ns in per_call.items() if len(ns) == 2
            )
            unique_dlq = exp_dlq
            assert valid_rows == exp_valid, (valid_rows, exp_valid)
            assert all(
                len(set(ns)) == 1 for ns in per_call.values()
            ), per_call
            assert dlq_rows == exp_dlq + dup_rows, (
                dlq_rows, exp_dlq, dup_rows,
            )
            assert valid_rows + exp_dlq + dropped == args.rows

        artifact = {
            "what": "kill/replay soak of the parity ingest pipeline "
                    "(PipelineJob over a file-stream twin): kill after "
                    "N commits, erase the newest commit marker, resume "
                    "from the checkpoint; valid rows exactly-once via "
                    "the batch-id-keyed idempotent sink, DLQ "
                    "at-least-once with exactly the replayed batch "
                    "duplicated"
                    + (
                        "; schema DRIFTS (speed Float32->Int32) between "
                        "kill and resume, so the replayed batch "
                        "reclassifies under the new schema"
                        if args.drift_on_replay
                        else ""
                    ),
            "mode": (
                "drift_on_replay" if args.drift_on_replay else "plain"
            ),
            "rows": args.rows,
            "batch_size": args.batch,
            "n_batches": n_batches,
            "killed_after_commits": args.kill_after,
            "replayed_batch": last_commit,
            "wall_sec": wall,
            "valid_rows": valid_rows,
            "valid_exactly_once": True,
            "dlq_rows_written": dlq_rows,
            "dlq_rows_unique": unique_dlq,
            "dlq_replay_duplicates": dup_rows,
            "dropped_tombstones": dropped,
            "accounting_exact": True,
            "dlq_calls": [
                {"batch": b, "rows": n} for b, n in dlq_calls
            ],
        }
        if args.drift_on_replay:
            artifact.update(
                drifted_column="speed: Float32 -> Int32",
                reclassified_rows=reclass_total,
                reclassified_in_replayed_batch=valid_n,
                post_drift_batches=len(post) + 1,
                reclassified_error="data.speed must be integer",
                drift_schema_fetches=drifted_provider.fetch_count,
            )
        print(json.dumps(artifact), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

"""Fixture-dtype regression tests.

The events.ts parquet physical type has changed between driver rounds
(timestamp[ns] -> timestamp[us], which Spark 4 reads as TIMESTAMP_NTZ)
and silently broke three queries that use NTZ-illegal expressions
(unix_micros, cast-to-double). Pin the one invariant every event-time
consumer relies on: ``table()`` always yields a plain session-TZ
TIMESTAMP column on which those expressions analyze.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from kafka2clickhouse_py_streamer_spark.operators.base import (
    normalize_event_time,
    table,
)

SF = "/root/testdata/sf0.001"


def test_events_ts_is_plain_timestamp(spark):
    e = table(spark, SF, "events")
    assert dict(e.dtypes)["ts"] == "timestamp", (
        "events.ts must normalize to TIMESTAMP (not TIMESTAMP_NTZ, not "
        "bigint) — q28/q50/w05 use unix_micros/double casts on it"
    )


def test_no_table_exposes_timestamp_ntz(spark):
    # the seam generalized: orders.o_orderdate is also parquet
    # timestamp[us] now — every table() read must be NTZ-free
    for name in ("orders", "lineitem", "customer", "events", "documents"):
        df = table(spark, SF, name)
        ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
        assert not ntz, f"{name} exposes TIMESTAMP_NTZ columns: {ntz}"


def test_ntz_illegal_expressions_analyze_on_events(spark):
    e = table(spark, SF, "events")
    # Exactly the expressions that broke in r02: analysis alone proves
    # the type; evaluate one row to prove execution too.
    row = (
        e.select(
            F.unix_micros("ts").alias("us"),
            F.col("ts").cast("double").alias("d"),
        )
        .limit(1)
        .collect()
    )
    assert row and row[0].us is not None


def test_normalize_event_time_handles_every_vintage(spark):
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    us = int(base.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000

    # bigint nanos (legacy nanosAsLong read)
    df_ns = spark.createDataFrame([(us * 1000,)], "ts long")
    out = normalize_event_time(df_ns)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.collect()[0].ts == base

    # TIMESTAMP_NTZ (Spark 4 reading of parquet timestamp[us])
    df_ntz = spark.createDataFrame([(base,)], "ts timestamp_ntz")
    out = normalize_event_time(df_ntz)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.collect()[0].ts == base

    # already TIMESTAMP: no-op
    df_ts = spark.createDataFrame([(base,)], "ts timestamp")
    out = normalize_event_time(df_ts)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.collect()[0].ts == base


def test_latest_soak_artifact_is_green():
    """The committed streaming-soak artifact (SOAK_r{N}.json — a real
    kill-and-resume run of the RAG-ingest stream, tools/
    streaming_soak.py) must record twin equality with the batch
    composition and a stream that actually resumed past its kill
    point. Guards against committing a red or truncated soak."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = sorted(glob.glob(os.path.join(repo, "SOAK_r*.json")))
    if not arts:
        import pytest

        pytest.skip("no soak artifact recorded yet")
    with open(arts[-1]) as fh:
        soak = json.load(fh)
    assert soak["twin_equal"] is True
    assert soak["rows_streamed"] == soak["rows_batch"] > 0
    # the stream died mid-corpus and still committed every batch
    assert soak["killed_after_batch"] < soak["n_batches"] - 1
    assert soak["micro_batches_committed"] == soak["n_batches"]
    # the kill erased the newest commit marker, so the resume REPLAYED
    # that batch through foreachBatch — and the partition-overwrite
    # design made the replay byte-idempotent on the output
    replay = soak["uncommitted_replay"]
    assert replay["idempotent"] is True
    assert replay["replayed_batch"] == soak["killed_after_batch"]
    assert replay["rows"] > 0
    phases = {c["phase"] for c in soak["state_size_curve"]}
    assert phases == {"pre-kill", "post-resume"}
    # compaction really shrank the fingerprint store
    comp = soak["compaction"]
    assert comp["fps_after"]["files"] < comp["fps_before"]["files"]
    if "crash_injected" in comp:
        # r11+: the compaction was killed mid-fold (after its commit
        # marker), a full batch streamed over the mid-swap state, and
        # the next maintenance call rolled the swap forward — the
        # twin_equal assert above is the proof no claim was lost
        assert comp["crashed"] is True
        assert comp["recovered_after_batch"] > comp["after_batch"]
        assert comp["partitions_folded"] > 0


def test_latest_state_curve_artifact_is_green():
    """The committed state-store curve artifact (STATE_CURVE_r{N}.json,
    tools/state_curve.py — Spark's OWN state store under a watermarked
    agg + dropDuplicatesWithinWatermark) must record bounded state,
    exact beyond-retention readmission, and zero within-gap
    duplicates."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = sorted(glob.glob(os.path.join(repo, "STATE_CURVE_r*.json")))
    if not arts:
        import pytest

        pytest.skip("no state-curve artifact recorded yet")
    with open(arts[-1]) as fh:
        art = json.load(fh)
    assert art["agg_verdict"]["state_bounded"] is True
    assert art["dedup_verdict"]["state_bounded"] is True
    assert art["dedup_readmission_exact"] is True
    assert art["dedup_within_gap_duplicates"] == 0
    # the curves really show eviction: rows_removed fires once the
    # watermark advances past the retention horizon
    assert any(c["rows_removed"] > 0 for c in art["dedup_curve"])
    # input kept growing while state stayed flat
    v = art["dedup_verdict"]
    assert v["cumulative_input_final"] > v["cumulative_input_mid"]


def test_bench_stdout_line_fits_driver_tail_window():
    """The driver parses bench.py's JSON out of a bounded (~2000 char)
    stdout tail window; round 7 proved an over-long line records
    "parsed": null in BENCH_r{N}.json even on rc 0. The emitted line
    must stay under the cap for the CURRENT headline set (spreads go
    to the BENCH_SPREAD.json sidecar), and the degraded form must kick
    in rather than ever exceeding it."""
    import json
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    from bench import HEADLINE, LINE_CAP, format_output

    times = {name: 123.456 for name in HEADLINE}
    spreads = {name: [123.456, 123.456] for name in HEADLINE}
    line, sidecar = format_output(times, spreads, 12.345, 0.1)
    assert len(line) <= LINE_CAP < 2000
    parsed = json.loads(line)
    # the real (non-degraded) form still carries per-query times inline
    assert parsed["queries"] == times
    assert parsed["metric"] == "headline_total_wall"
    assert "rep_spread" not in parsed  # bulky — sidecar only
    assert sidecar["rep_spread"] == spreads
    assert sidecar["queries"] == times

    # pathological growth degrades instead of overflowing
    big = {f"q{i:02d}_{'x' * 40}": 1.0 for i in range(100)}
    line2, _ = format_output(big, {}, 0.0, 0.1)
    assert len(line2) <= LINE_CAP
    assert json.loads(line2)["queries_in"] == "BENCH_SPREAD.json"


def test_latest_throughput_artifact_is_green():
    """The committed ingest-throughput artifact (THROUGHPUT_r{N}.json,
    tools/ingest_throughput.py — the parity JSON→validate→cast→sink
    pipeline over a file-stream twin) must record exact row accounting
    (valid + DLQ + dropped == fed) for every configuration, and the
    scaling direction must hold: more topic partitions and bigger
    batches never make the steady rate worse."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = sorted(glob.glob(os.path.join(repo, "THROUGHPUT_r*.json")))
    if not arts:
        import pytest

        pytest.skip("no throughput artifact recorded yet")
    with open(arts[-1]) as fh:
        art = json.load(fh)
    runs = art["runs"]
    assert set(runs) >= {"parity_1p", "parity_8p", "bulk_8p"}
    for name, r in runs.items():
        assert (
            r["valid_rows"] + r["dlq_rows"] + r["dropped_tombstones"]
            == r["rows"]
        ), name
        assert r["dlq_rows"] > 0, name  # the DLQ path really ran
        assert r["rows_per_sec"] > 0, name
        assert sum(b["rows"] for b in r["per_batch"]) == r["rows"], name
        if r.get("batch_cache") == "on":
            # r8 artifacts: with the raw batch persisted, the source
            # reads each row exactly once per trigger (pre-fix this
            # metric read 2x the batch size)
            assert all(
                b["rows_read"] == b["rows"] for b in r["per_batch"]
            ), name
        elif "batch_cache" not in r:
            # r9b artifacts (tagged-persist design): one source scan
            # per trigger is structural; only the FIRST trigger adds
            # the pre-schema-fetch limit-1 probe's partial scan
            # (reference parity: empty check before DESCRIBE)
            first = r["per_batch"][0]
            assert (
                first["rows"]
                <= first["rows_read"]
                <= 2 * first["rows"]
            ), name
            assert all(
                b["rows_read"] == b["rows"]
                for b in r["per_batch"][1:]
            ), name
    # r9's automatic intra-trigger fan-out (PipelineJob) decouples
    # compute width from topic partitions, so 1p ≈ 8p at equal batch
    # size (both run ~8-wide; 1p pays a small local shuffle, 8p pays
    # multi-file listing). The old strict 8p > 1p ladder no longer
    # encodes anything real — the invariants now: partitions never
    # cost more than noise, and bulk batches amortize trigger overhead.
    assert (
        runs["parity_8p"]["steady_rows_per_sec"]
        > 0.8 * runs["parity_1p"]["steady_rows_per_sec"]
    )
    assert (
        runs["bulk_8p"]["steady_rows_per_sec"]
        > runs["parity_8p"]["steady_rows_per_sec"]
    )
    if "parity_1p_seq" in runs:
        # the overlap A/B (r09c+): the overlapped default must not be
        # materially slower than the strict-ordering sequential twin.
        # SCALE.md's own spread analysis shows the ~7% A/B gap has
        # overlapping rep spreads, so a strict median ordering would
        # fail an honest re-record where the twins tie within host
        # noise — allow 5% (round-9 advice)
        assert (
            runs["parity_1p"]["steady_rows_per_sec"]
            >= 0.95 * runs["parity_1p_seq"]["steady_rows_per_sec"]
        )
        assert runs["parity_1p_seq"].get("env") == {
            "SPARK_GRAFT_DLQ_OVERLAP": "off"
        }
    # the matches-or-beats receipt: on the same I/O-free basis the
    # engine's per-core compute rate beats the reference's
    # single-threaded row-loop twin, and cores multiply it
    twin = art["reference_twin"]["rows_per_sec"]
    compute = art["engine_compute"]
    assert compute["1core"]["rows_per_sec"] > twin
    assert compute["32core"]["rows_per_sec"] > 4 * compute["1core"][
        "rows_per_sec"
    ]


def test_latest_ingest_soak_artifact_is_green():
    """The committed parity-ingest kill/replay soak
    (INGEST_SOAK_r{N}.json, tools/ingest_soak.py) must record a REAL
    replay (the erased-commit batch re-ran through the sinks) with
    exact accounting: valid rows exactly-once via the idempotent
    sink, the DLQ duplicated for precisely the replayed batch, and
    valid + unique-DLQ + dropped == fed."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = sorted(glob.glob(os.path.join(repo, "INGEST_SOAK_r*.json")))
    if not arts:
        import pytest

        pytest.skip("no ingest-soak artifact recorded yet")
    latest_by_mode: dict = {}
    for p in arts:  # latest artifact of EACH recorded mode
        with open(p) as fh:
            a = json.load(fh)
        latest_by_mode[a.get("mode", "plain")] = a
    for art in latest_by_mode.values():
        assert art["valid_exactly_once"] is True
        assert art["accounting_exact"] is True
        # conservation holds in BOTH modes: under drift-on-replay the
        # reclassified rows move from the valid side to the unique-DLQ
        # side, never vanishing or double-counting
        assert (
            art["valid_rows"]
            + art["dlq_rows_unique"]
            + art["dropped_tombstones"]
            == art["rows"]
        )
        # the replay really happened: one batch's DLQ write appears
        # twice, and the surplus is exactly the duplicated leg
        calls = art["dlq_calls"]
        replayed = [
            c["batch"]
            for c in calls
            if sum(1 for d in calls if d["batch"] == c["batch"]) == 2
        ]
        assert set(replayed) == {art["replayed_batch"]}
        assert art["dlq_replay_duplicates"] > 0
        assert (
            art["dlq_rows_written"]
            == art["dlq_rows_unique"] + art["dlq_replay_duplicates"]
        )
        if art.get("mode") == "drift_on_replay":
            # the drifted schema actually re-validated the replay:
            # rows reclassified, with the NEW schema's error string,
            # and the fresh job fetched the drifted schema
            assert art["reclassified_rows"] > 0
            assert "must be integer" in art["reclassified_error"]
            assert art["drift_schema_fetches"] >= 1
        # the kill landed strictly inside the corpus — checked per
        # mode (outside the loop it only covered the last-bound art)
        assert 0 < art["killed_after_commits"] < art["n_batches"]


def test_sf1_amplification_decorrelates_replicas(spark, tmp_path):
    """Round-10 guard: the sf1 generator's per-replica vowel remap is
    load-bearing for every ratio in SCALE.md — the pre-fix two-letter
    rotation left a/e-free words identical across replicas and
    injected 59M phantom cross-replica SimHash pairs (the receipt:
    1,649 after the fix). Re-run the remap on a mini 3-replica
    amplification of sf0.001 and pin the cross-replica pair count to
    at most the single-replica organic pair count, so a future
    generator edit can't silently reinflate the pair graph."""
    import glob as _glob
    import os
    import shutil
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools"),
    )
    from bench_sf1 import SHIFT, amplify_docs

    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        d06_simhash_pairs,
    )

    root = str(tmp_path / "mini_amp")
    os.makedirs(root)
    for p in _glob.glob(os.path.join(SF, "*.parquet")):
        if os.path.basename(p) != "documents.parquet":
            shutil.copy(p, os.path.join(root, os.path.basename(p)))
    src = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    amp = amplify_docs(src, 0)
    for r in (1, 2):
        amp = amp.unionByName(amplify_docs(src, r))
    amp.write.parquet(os.path.join(root, "documents.parquet"))

    pairs = d06_simhash_pairs(spark, root).select("doc_a", "doc_b")
    rep = lambda c: (F.col(c) / SHIFT).cast("long")  # noqa: E731
    cross = pairs.filter(rep("doc_a") != rep("doc_b")).count()
    base = d06_simhash_pairs(spark, SF).count()
    # organic pairs triple with 3 replicas; phantom cross-replica
    # cliques would add O(replicas^2 * docs) — orders beyond base
    assert cross <= max(base, 5), (
        f"cross-replica pairs {cross} exceed single-replica organic "
        f"count {base}: the amplification remap has re-correlated"
    )

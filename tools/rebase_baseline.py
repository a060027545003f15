#!/usr/bin/env python
"""Re-record the 11-query r01 baseline subset WITH host anchors.

Round-12 verdict, What's-wrong #1: the 2× baseline gate compared raw
subset walls against BENCH_r01.json (5.015 s), but the r01 recording
carries NO host anchor — so when the driver's r12 run read 2.33× while
the same-HEAD committed seal read 1.67×, "host or code?" had to be
adjudicated by judgment (rep minima, cross-recording anchor ratios),
not mechanism. This tool makes the gate decidable: it re-records the
same 11 queries under the CURRENT bench protocol (2 warm passes,
median-of-5 timed reps with cache hygiene — ``bench.warm_queries`` /
``bench.time_queries``) with BOTH host anchors measured median-of-3 in
the same session, and writes ``BASELINE_SUBSET.json``. From round 13,
BASELINE.md defines the gate as

    subset_wall / host_calibration_sec        (the codegen anchor)
    ------------------------------------  <=  2.0
    BASELINE_SUBSET.json's  normalized

evaluated by ``tools/baseline_gate.py`` — a computed boolean, host
speed cancelled by construction.

The r01 raw walls stay in BENCH_r01.json in git history; they are
simply no longer the gate base (they cannot be normalized
retroactively).

Usage:
    python tools/rebase_baseline.py          # run + write artifact
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "BASELINE_SUBSET.json")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import bench
    from kafka2clickhouse_py_streamer_spark.operators.base import all_queries
    from kafka2clickhouse_py_streamer_spark.session import get_spark

    spark = get_spark(app_name="rebase-baseline")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    host_cal, host_cal_shuffle = bench.measure_anchors(spark)
    bench.warm_queries(spark, registry, bench.R01_SUBSET, sf_dir)
    times, spreads, _, _ = bench.time_queries(
        spark, registry, bench.R01_SUBSET, sf_dir
    )
    subset_wall = round(sum(times.values()), 3)
    try:
        head = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip()
    except Exception:
        head = None
    out = {
        "metric": "r01_baseline_subset_rebased",
        "unit": "sec",
        "sf": 0.1,
        "queries": times,
        "rep_spread": spreads,
        "subset_wall_sec": subset_wall,
        "host_calibration_sec": host_cal,
        "host_calibration_shuffle_sec": host_cal_shuffle,
        "normalized": round(subset_wall / host_cal, 2),
        "normalized_per_query": {
            k: round(v / host_cal, 3) for k, v in times.items()
        },
        "git_head": head,
        "protocol": (
            "2 warm passes + median-of-5 timed reps per query with "
            "spark.catalog.clearCache() between reps and queries "
            "(bench.warm_queries/time_queries); both host anchors "
            "median-of-3 in the same session (bench.measure_anchors)"
        ),
        "supersedes": {
            "artifact": "BENCH_r01.json",
            "subset_wall_sec": 5.015,
            "note": (
                "the r01 recording carries no host anchor, so it "
                "cannot base an anchor-normalized gate; kept for "
                "raw-wall history only"
            ),
        },
    }
    with open(OUT, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({
        "subset_wall_sec": subset_wall,
        "host_calibration_sec": host_cal,
        "normalized": out["normalized"],
    }))


if __name__ == "__main__":
    main()

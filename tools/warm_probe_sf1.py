#!/usr/bin/env python
"""Record the d12/t23 sf1 WARM-ratio probe (round-12 verdict #3).

ROUND12.md explained d12_span_dedup's and t23_pmi_collocations' sf1
scaling ratios of 3.93× / 3.37× (vs 1.87 / 1.74 in r11) with a
"targeted 3-rep warm probe … (unrecorded)" attributing both to
first-rep JVM warmup on a slow host. Every other >2× tail in this repo
carries a committed receipt; this tool records that probe so the
defense is an artifact, not prose.

Protocol per query and scale: one warm execution (plan + JIT), then 3
timed reps with ``spark.catalog.clearCache()`` between reps (the
bench_sf1 protocol). ALL reps are recorded — the claim under test is
precisely that rep 1 (cold-ish) inflates the median on a degraded
host while the warm reps scale linearly.

Writes ``BENCH_sf1_r{N}w.json`` with the standard BENCH_sf1 sections
(sf0.1 / sf1 / scaling_ratio over the WARM medians), plus a
``rep_detail`` section with every raw sample.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

PROBE = ["d12_span_dedup", "t23_pmi_collocations"]
REPS = 3


def current_round() -> int:
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0) + 1


def probe(spark, registry, name, sf_dir) -> dict:
    fn = registry[name].fn
    t0 = time.perf_counter()
    fn(spark, sf_dir).count()  # warm: plan + JIT
    warm_first = round(time.perf_counter() - t0, 3)
    spark.catalog.clearCache()
    samples = []
    for _ in range(REPS):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        samples.append(round(time.perf_counter() - t0, 3))
    spark.catalog.clearCache()
    return {
        "first_exec_sec": warm_first,
        "warm_reps_sec": samples,
        "warm_median_sec": sorted(samples)[REPS // 2],
    }


def main() -> None:
    import bench_sf1
    from kafka2clickhouse_py_streamer_spark.operators.base import all_queries
    from kafka2clickhouse_py_streamer_spark.session import get_spark

    spark = get_spark(app_name="warm-probe-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    bench_sf1.generate(spark)
    registry = all_queries()

    detail: dict = {}
    t01, t1 = {}, {}
    for name in PROBE:
        a = probe(spark, registry, name, bench_sf1.SRC)
        b = probe(spark, registry, name, bench_sf1.SF1_DIR)
        detail[name] = {"sf0.1": a, "sf1": b}
        t01[name] = a["warm_median_sec"]
        t1[name] = b["warm_median_sec"]
    out = {
        "metric": "d12_t23_warm_ratio_probe",
        "unit": "sec",
        "data_ratio": bench_sf1.REPLICAS,
        "sf0.1": t01,
        "sf1": t1,
        "scaling_ratio": {
            k: round(t1[k] / t01[k], 2) if t01[k] else None for k in PROBE
        },
        "rep_detail": detail,
        "protocol": (
            "per query+scale: 1 warm execution (recorded as "
            "first_exec_sec), then 3 timed reps with clearCache "
            "between; medians over the WARM reps only"
        ),
    }
    path = os.path.join(REPO, f"BENCH_sf1_r{current_round():02d}w.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

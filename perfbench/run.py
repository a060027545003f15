#!/usr/bin/env python3
"""Layered benchmark: ingest at the reference's trigger size, bulk
catch-up, and the LLM corpus-prep query set.

    python3 perfbench/run.py --workload ingest_parity --seed 1 \\
        --seconds 10 --trace 0

``--trace 0`` measures end to end; ``--trace 1`` runs the same workload
and reports every per-layer metric instead. The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--workload all`` runs every workload, each in a fresh process.
See perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_parity", "ingest_bulk", "corpus_llm")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# gated end-to-end metrics: the two that hold steady when the host's
# hypervisor steals CPU (wall figures then spread 15-30% across runs)
END_TO_END_UNITS = {"setup_s": "s", "cpu_s_per_mrow": "s"}
# printed and recorded, not gated
FIGURE_UNITS = {
    "rows_per_s": "1/s", "trigger_p50_ms": "ms", "trigger_tail_ms": "ms",
    "query_set_s": "s", "cpu_s_per_pass": "s", "peak_rss_mb": "MB",
    "failed_frac": "",
}


def _pin_environment(work: str) -> dict[str, str]:
    """Measure package defaults at this host's core count: every
    ``SPARK_GRAFT_*`` knob is unset except the CPU count, and every
    scratch file lands inside the checkout."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the launcher and the driver): temp files in the work
    # dir, and no hsperfdata files, which HotSpot always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, work: str, knobs: dict) -> None:
        from perfbench.measure import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cpus = int(knobs["SPARK_GRAFT_CPUS"])
        self.tracer = Tracer(self.trace)
        self.root_span = self.tracer.open(f"workload.{args.workload}")
        self.notes: dict = {"knobs": knobs}
        self.spark = None

    def note(self, key: str, value) -> None:
        self.notes[key] = value

    def start_session(self):
        """Start the engine's session; returns it with its start time
        (epoch seconds)."""
        from kafka2clickhouse_py_streamer_spark.session import get_spark

        start = time.time()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                # keep every job/stage of a run for the layer counters
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.add("session.start", start, time.time(), self.root_span)
        import pyspark

        self.notes["versions"] = {
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        return self.spark, start


def _stop_processes(ctx: Context) -> None:
    """Stop the session and its JVM, then wait for every process this
    run started (JVM, Python workers) to end."""
    from perfbench.measure import _stat, process_tree

    # pid → start time, so a recycled pid is never mistaken for ours
    kids = {
        p: st[19] for p in process_tree()
        if p != os.getpid() and (st := _stat(p)) is not None
    }
    if ctx.spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        ctx.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    for p in kids:  # reap our direct children; others are the JVM's
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass
    deadline = time.time() + 30
    while alive := [p for p, start in kids.items() if _running(p, start)]:
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def _running(pid: int, start: str) -> bool:
    """Still the same process, alive and not a zombie awaiting a reaper."""
    from perfbench.measure import _stat

    st = _stat(pid)
    return st is not None and st[19] == start and st[0] != "Z"


def layer_metric_names() -> list[str]:
    from perfbench import corpus, ingest

    return ingest.layer_metric_names() + corpus.layer_metric_names()


def _human(ctx: Context, result: dict) -> None:
    print(f"== {ctx.workload} seed={ctx.seed} trace={int(ctx.trace)}")
    for key in ("knobs", "versions"):
        print(f"{key}: {json.dumps(ctx.notes.get(key))}")
    for key, value in result["metrics"].items():
        print(f"  {key:<24} {value:>16.6g} {END_TO_END_UNITS[key]}")
    for key, value in result["figures"].items():
        if isinstance(value, dict) or value is None:  # a tail with its n
            print(f"  {key:<24} {json.dumps(value):>16} {FIGURE_UNITS[key]}")
        else:
            print(f"  {key:<24} {value:>16.6g} {FIGURE_UNITS[key]}")
    for key, value in ctx.notes.items():
        if key not in ("knobs", "versions"):
            print(f"  note {key}: {json.dumps(value, default=str)}")


def run_one(args) -> int:
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    knobs = _pin_environment(work)
    try:
        return _measure(args, tag, work, knobs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, tag: str, work: str, knobs: dict) -> int:
    try:
        # the program under test; without it there is nothing to measure
        import kafka2clickhouse_py_streamer_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable: {exc}", file=sys.stderr)
        return 2

    from perfbench import corpus, ingest, measure

    ctx = Context(args, work, knobs)
    module = corpus if args.workload == "corpus_llm" else ingest
    steal0 = measure.steal_s()
    try:
        with measure.RssSampler() as rss:
            result = module.run(ctx)
        ctx.note("host_steal_s", measure.steal_s() - steal0)
        # not gated: G1 commits heap at its own pace, so the peak spreads
        # 30-60% across identical runs
        result["figures"]["peak_rss_mb"] = rss.peak_mb
        result["figures"]["failed_frac"] = result["failed"] / result["attempted"]
    finally:
        t = time.perf_counter()
        _stop_processes(ctx)
        ctx.note("stop_s", time.perf_counter() - t)
    ctx.tracer.close(ctx.root_span)

    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "cpus": ctx.cpus, **ctx.notes,
        "attempted": result["attempted"], "failed": result["failed"],
        "end_to_end": result["metrics"], "figures": result["figures"],
    }
    if ctx.trace:
        record["layers"] = result["layers"]
        untraced = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            traced = {**result["metrics"], **result["figures"]}
            record["trace_overhead"] = {
                k: traced[k] - v
                for k, v in {**base["end_to_end"], **base.get("figures", {})}.items()
                if isinstance(v, (int, float))
                and isinstance(traced.get(k), (int, float))
            }
            ctx.note("trace_overhead", record["trace_overhead"])
        ctx.tracer.dump(os.path.join(results, f"{tag}.spans.json"))
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    _human(ctx, result)
    if ctx.trace:
        metrics = dict.fromkeys(layer_metric_names(), 0.0)
        metrics.update(result["layers"])
        units = {}
    else:
        metrics = result["metrics"]
        units = END_TO_END_UNITS
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            k: {"value": float(v), "unit": units.get(k, _layer_unit(k))}
            for k, v in metrics.items()
        },
    }))
    return 0


def _layer_unit(name: str) -> str:
    if "rows_per_s" in name:
        return "1/s"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


def run_all(args) -> int:
    """Every workload, each in a fresh process."""
    rc = 0
    for w in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", w,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        rc = subprocess.run(cmd, cwd=ROOT).returncode or rc
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sys.exit(main())

"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` but every conf here is chosen to also be
the right default on a large cluster:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy switch) so plans self-correct at 100 TB.
- ``spark.sql.session.timeZone=UTC`` so timestamp semantics are stable and
  match the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for any pandas-UDF path (the only sanctioned Python hot
  path).
- Shuffle partitions default to cores locally; on a real cluster AQE's
  coalescing makes the initial number far less critical.
- Spark's generated-class cache holds 4096 classes, not Spark's 100:
  the registry's queries generate ~2 500 distinct classes per pass, so
  at 100 the LRU evicts every class before its next use and each warm
  pass recompiles (Janino, then JIT) almost all of them. A session the
  engine did not build (``__spark_entry__.entry(spark)``, say) keeps
  Spark's 100 unless its own builder sets the conf.
- The driver JVM's four C2 (tier-4) compile thresholds are raised by
  :data:`TIER4_FACTOR` over the JDK defaults. Hot per-row code (JSON
  parse, whole-stage codegen, parquet encode) crosses even the raised
  thresholds within milliseconds; lukewarm Spark plumbing (closure
  cleaning, task serialization, Catalyst rules, Janino) stays in C1
  instead of costing C2 compile time inside every session's first
  minutes. In local mode the executors are that same JVM; cluster
  executors (``spark.executor.defaultJavaOptions``) keep JVM defaults.

It also holds the one registry of *session substrates* (:func:`substrate`):
engine-built state that is immutable for one run's view of its inputs.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Hashable

from pyspark.sql import SparkSession

# HotSpot's tier-4 (C2) thresholds: JDK 17 defaults, scaled by one factor
# chosen by a sweep (SCALE.md, "JIT warm-up tail")
TIER4_DEFAULTS = {
    "Tier4InvocationThreshold": 5000,
    "Tier4MinInvocationThreshold": 600,
    "Tier4CompileThreshold": 15000,
    "Tier4BackEdgeThreshold": 40000,
}
TIER4_FACTOR = 4
_DRIVER_JAVA_OPTIONS = " ".join(
    f"-XX:{flag}={default * TIER4_FACTOR}" for flag, default in TIER4_DEFAULTS.items()
)


def get_spark(
    app_name: str = "kafka2clickhouse-py-streamer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    The environment supplies deployment resources only (reference
    parity: the reference reads its deployment settings from the
    environment, main.py:542-578): ``SPARK_GRAFT_CPUS`` sets local
    parallelism and the default shuffle width, ``SPARK_GRAFT_DRIVER_MEM``
    the driver heap. Every tuning conf below is a measured constant;
    ``extra_conf`` is the one override path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Round-13 join defaults (optimization guide §3.1): let the
        # planner pick a SHUFFLED HASH join instead of sort-merge when
        # one side fits a per-partition hash map — the engine's join
        # sides are mostly small aggregated frames (vocab counts,
        # candidate sets, per-doc sizes) where SMJ's two sorts are
        # pure overhead. AQE additionally rewrites SMJ→SHJ at runtime
        # when every post-shuffle partition is under the threshold
        # (64 MB — same bound as the broadcast threshold below, so a
        # partition the planner would happily broadcast can also be
        # hash-built). Measured A/B/A at sf0.1: p07 3.59→2.28–2.52 s,
        # d21 0.77→0.44–0.46 s; no query slower outside noise. A
        # cluster whose build sides exceed executor memory passes
        # preferSortMergeJoin=true through ``extra_conf`` (SMJ's
        # graceful spill is the safe fallback there).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # Shuffle codec stays lz4 (the Spark default), measured not
        # assumed (round-14 A/B at sf1, interleaved sessions, top-5
        # shuffle-heavy queries): zstd was equal-or-worse everywhere —
        # d24 5.9-6.5 s lz4 vs 11.8 s zstd (the Levenshtein verify is
        # CPU-bound; zstd's extra compression CPU competes with it),
        # d17/p07/d03/p14 within noise. At cluster network volumes the
        # trade can flip; ``extra_conf`` overrides it there.
        .config("spark.io.compression.codec", "lz4")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture events.parquet has shipped as timestamp[ns] in some
        # rounds; keep the legacy long read enabled so that vintage
        # still loads (operators/base.normalize_event_time converts
        # every vintage — ns-long, NTZ, timestamp — uniformly)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # with a checkpoint dir set, iter_materialize (functions/graph.py)
        # writes a checkpoint file per iteration; let the ContextCleaner
        # delete them once their RDDs are GC'd instead of accumulating
        # for the application lifetime (r7 advice)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Static conf (read once when the JVM's first session starts;
        # spark.conf.set afterwards is ignored). Spark's 100-class LRU
        # thrashes: the 11 corpus queries generate ~400 distinct
        # classes and the registry ~2 500, so every warm pass
        # recompiled ~350 / ~3 500 of them. 4096 covers the registry
        # with headroom; the metaspace and code-heap cost is measured in
        # SCALE.md, "Codegen cache thrash".
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # JVM launch option, so it only reaches a JVM this builder
        # starts. In the first warm corpus pass about half the process
        # CPU was JIT time, mostly C2 work on lukewarm Spark internals;
        # the raised thresholds keep those in C1 (SCALE.md, "JIT warm-up
        # tail"). Spark prepends defaultJavaOptions to extraJavaOptions,
        # so a user's JFR or GC-log flags there keep these.
        .config("spark.driver.defaultJavaOptions", _DRIVER_JAVA_OPTIONS)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles of generated classes in this JVM so far (Spark's
    ``CodegenMetrics`` compilation-time histogram count). A cache hit
    adds nothing, so a delta over a warm pass counts its recompiles."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def jit_compile_ms(spark: SparkSession) -> int:
    """Milliseconds HotSpot's JIT compilers (C1 and C2) have spent in
    this JVM so far (``CompilationMXBean.getTotalCompilationTime``). A
    JFR recording adds its own compiles, so compare with JFR off."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return int(mf.getCompilationMXBean().getTotalCompilationTime())


# Session substrates: state the engine builds once per run and then
# serves — trained codebooks, the kNN graph, CC labels, validator UDFs,
# plan fragments. All of it belongs to ONE run identity, the
# SparkContext applicationId (unique per context, never recycled, unlike
# a Python id()): a restarted context must never read a dead context's
# checkpoints or JVM refs. Only one SparkContext lives per process, so
# the registry holds one application's entries at a time. No lock: each
# dict operation is atomic under the GIL, so two threads missing the
# same key at once (concurrent streaming triggers) at worst both build,
# and the later insert wins.
SUBSTRATE_CAP = 64  # entries per name; cleared on overflow (keys are few)
_MISS = object()
_app_id: str | None = None
_entries: dict[tuple[str, Hashable], object] = {}
_build_s: dict[str, float] = {}


def substrate(
    spark: SparkSession, name: str, key: Hashable, build: Callable[[], object]
):
    """``build()``, run once per (applicationId, ``name``, ``key``) and
    served from the registry afterwards — a hit costs one dict lookup.
    A call under a new applicationId first drops every entry of the old
    one. Each miss adds its build wall time to ``build_seconds()[name]``
    (a build that calls other substrates includes their misses)."""
    global _app_id
    app = spark.sparkContext.applicationId
    if app != _app_id:
        _entries.clear()
        _build_s.clear()
        _app_id = app
    value = _entries.get((name, key), _MISS)
    if value is _MISS:
        t0 = time.perf_counter()
        value = build()
        _build_s[name] = _build_s.get(name, 0.0) + time.perf_counter() - t0
        same = [k for k in _entries if k[0] == name]
        if len(same) > SUBSTRATE_CAP:
            for k in same:
                _entries.pop(k, None)
        _entries[(name, key)] = value
    return value


def build_seconds() -> dict[str, float]:
    """Total build wall seconds (ms-rounded) per substrate name for the
    current run."""
    return {name: round(s, 3) for name, s in _build_s.items()}


def release(spark: SparkSession) -> None:
    """Drop every substrate (and its build time) of ``spark``'s run."""
    if spark.sparkContext.applicationId == _app_id:
        _entries.clear()
        _build_s.clear()

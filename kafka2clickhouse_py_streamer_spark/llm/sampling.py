"""Sampling / split / packing operators for training-data pipelines.

The reference has none of these (it is a streaming ETL service,
main.py:468-534); they are north-star extensions (SURVEY.md §2b) that a
100 TB corpus pipeline needs between "cleaned documents" and "training
shards":

- p01: deterministic train/val/test split (hash of the stable key, not
  rand() — reproducible across runs, engines, and re-partitions)
- p02: stratified sampling with per-stratum rates (the distributed
  analogue of ``df.sampleBy`` but deterministic, so the oracle can
  reproduce it bit-for-bit)
- p03: sequence packing — assign documents to fixed token-budget packs
  (the concat-and-chunk step before tokenizer sharding)

Scale notes: p01/p02 are embarrassingly parallel (pure row-local
expressions over one scan — no shuffle at all; the md5 bucket is
whole-stage-codegen JVM work). p03's global running sum uses the same
distributed two-pass rank pattern as p04 (range partition →
per-partition totals → broadcast prefix offsets), so no partition ever
sees more than its own range; pass ``shard_col`` to pack each shard's
stream independently instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka2clickhouse_py_streamer_spark.operators.base import Query, table

SPLIT_BUCKETS = 100
TRAIN_END = 80  # [0,80) train, [80,90) val, [90,100) test
VAL_END = 90

# Per-stratum keep-rates for p02 (percent of the bucket space).
STRATA_RATES = {"en": 50, "es": 25, "de": 25, "fr": 10}
DEFAULT_RATE = 5

PACK_BUDGET = 512  # tokens per pack for p03


def _bucket(col):
    """Deterministic bucket in [0, SPLIT_BUCKETS): first 8 hex chars of
    md5(key) as an integer, mod bucket count. Identical arithmetic on
    DuckDB via CAST('0x…' AS BIGINT)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % SPLIT_BUCKETS
    )


def _bucket_sql(key: str) -> str:
    return (
        f"CAST('0x' || SUBSTRING(md5(CAST({key} AS VARCHAR)), 1, 8)"
        f" AS BIGINT) % {SPLIT_BUCKETS}"
    )


def _n_tokens():
    """Whitespace token count of ``text`` (shared by p03/p05/p07 and
    mirrored by every oracle's regexp_split_to_array expression)."""
    trimmed = F.trim(F.col("text"))
    return (
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"\s+")))
        .cast("long")
    )


def _quality_deduped(d: DataFrame) -> DataFrame:
    """Quality gate (token band) + exact-dedup keep-first, shared by
    p05 and p07: returns (doc_id, source, n_tokens) for surviving docs.

    The 128-bit fingerprint is materialized and text dropped BEFORE the
    dedup window, so the exchange carries 32-byte digests, never
    document bodies."""
    quality = d.select(
        "doc_id", "source", F.md5("text").alias("fp"),
        _n_tokens().alias("n_tokens"),
    ).filter((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000))
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        quality.withColumn("keeper", keeper)
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "source", "n_tokens")
    )


# frames persisted by _two_pass_offsets, so long-lived sessions
# (streaming drivers, notebooks) can release the disk blocks
# without the clearCache() sledgehammer — r7 advice: there was no
# unpersist path at all, and many offsets consumers per session
# accumulate unbounded DISK_ONLY blocks otherwise.
#
# AUTO-EVICTION IS DELIBERATELY ABSENT. A round-9 attempt capped the
# registry and unpersisted the oldest entry past the cap; an empirical
# repro showed that is WRONG: the ranged frame's pids come from
# repartitionByRange, whose boundaries are SAMPLED with an rdd.id-
# derived seed, so a still-lazy consumer recomputing after a full
# unpersist gets DIFFERENT row→pid assignments than the pass-1 totals
# already collected — silently corrupt stream_offset values (measured
# 3838/5000 wrong). Lost-BLOCK recompute under the live partitioner is
# deterministic; full unpersist before the consumer's terminal action
# is not. Only the caller knows when consumption is done, so release
# stays caller-controlled (release_offsets_materializations); past
# _OFFSETS_PERSISTED_CAP registrations we log a loud warning naming
# the hook instead of corrupting data.
_OFFSETS_PERSISTED: list[DataFrame] = []
_OFFSETS_PERSISTED_CAP = 16


def _session_stopped(frame: DataFrame) -> bool:
    try:
        sc = frame.sparkSession.sparkContext
        return sc._jsc is None  # stop() nulls the JVM context handle
    except Exception:
        return True


def _unpersist_registered(frame: DataFrame, blocking: bool) -> bool:
    """Unpersist one registered frame; True if blocks were freed.
    Only a stopped session is silently skipped — any other failure is
    logged (it means JVM blocks may genuinely still be held)."""
    try:
        frame.unpersist(blocking=blocking)
        return True
    except Exception as exc:
        if not _session_stopped(frame):
            import logging

            logging.getLogger(__name__).warning(
                "offsets unpersist failed (blocks may still be held): %s", exc
            )
        return False


def _still_persisted(frame: DataFrame) -> bool:
    """False once the frame holds no blocks: ``spark.catalog.clearCache()``
    (or the frame's own ``unpersist``) dropped it, or its session ended."""
    from pyspark import StorageLevel

    try:
        return frame.storageLevel != StorageLevel.NONE
    except Exception:
        return not _session_stopped(frame)


def _persist_offsets(frame: DataFrame, level) -> DataFrame:
    """``frame.persist(level)``, registered for
    release_offsets_materializations. Entries that no longer hold blocks
    are dropped from the registry first (never unpersisted: a live entry
    may still have lazy consumers). First, because an entry's storage
    level is looked up by plan, so once ``frame`` is cached an entry
    that clearCache dropped would read as persisted again if its plan
    is the same."""
    _OFFSETS_PERSISTED[:] = [f for f in _OFFSETS_PERSISTED if _still_persisted(f)]
    frame = frame.persist(level)
    _OFFSETS_PERSISTED.append(frame)
    if len(_OFFSETS_PERSISTED) > _OFFSETS_PERSISTED_CAP:
        import logging

        logging.getLogger(__name__).warning(
            "%d offsets materializations are persisted; call "
            "release_offsets_materializations() after each pipeline's "
            "terminal action to free them (auto-eviction would corrupt "
            "still-lazy consumers — see the registry note above)",
            len(_OFFSETS_PERSISTED),
        )
    return frame


def release_offsets_materializations(blocking: bool = False) -> int:
    """Unpersist every frame ``_two_pass_offsets`` persisted so far in
    this process; returns how many were released. Call ONLY after the
    composed pipelines' terminal actions: a consumer that has not yet
    run its action would recompute the ranged frame with RESAMPLED
    range boundaries (repartitionByRange seeds its sampler from the
    new rdd.id) and join pass-1 totals against mismatched pids —
    silently wrong stream_offset values, not an error. Idempotent;
    frames whose session has ended are skipped."""
    n = 0
    while _OFFSETS_PERSISTED:
        if _unpersist_registered(_OFFSETS_PERSISTED.pop(), blocking):
            n += 1
    return n


def _two_pass_offsets(
    df: DataFrame, group_cols: list[str], val_col: str = "n_tokens",
    order_col: str | list[str] = "doc_id",
    cut_input: bool = False,
) -> DataFrame:
    """Distributed running-sum offsets: for each row, the sum of
    ``val_col`` over all earlier rows (by ``order_col``, one column or
    a composite) within its ``group_cols`` group — WITHOUT funneling
    any group through one partition (a plain ``Window.partitionBy
    (group)`` would put an entire group on one task; with groups like
    train/val/test that is 80% of the corpus).

    Range-partition on (group, order) → per-(group, partition) totals
    (a |partitions|-row driver collect) → per-group prefix offsets
    broadcast back → partition-local window + offset. ``group_cols``
    may be empty for a single global stream (p03's shape).

    The two passes must see the IDENTICAL (row → pid) assignment:
    range boundaries come from sampling, so the ranged frame is
    materialized once — persisted — and both passes read it:
    ``StorageLevel.DISK_ONLY_2`` on a cluster (executor-local disk,
    2× replicated; nothing multi-terabyte pinned in executor MEMORY),
    MEMORY_AND_DISK on local masters (no peer to replicate to, no
    terabyte frame). Lineage is RETAINED in both: an executor loss
    reads the replica or recomputes from lineage (deterministic:
    parquet input + RangePartitioner's fixed per-partition sampling
    seed reproduce the same boundaries) — unlike ``localCheckpoint``,
    which truncates lineage and dies with its executor. That is why
    this is a persist and deliberately not :func:`iter_materialize`.

    Cache lifetime note: the entry is keyed by logical
    plan in Spark's CacheManager, so an IDENTICAL re-invocation in the
    same session reuses the materialization (free for iterative
    workloads; benchmarks that want cold reps must
    ``spark.catalog.clearCache()`` between them — bench.py and
    tools/bench_sf1.py do), and it lives until unpersist/clearCache/
    session end — disk-only, so it costs spill space, never executor
    memory. Long-lived sessions running many offsets consumers should
    call :func:`release_offsets_materializations` after each
    pipeline's terminal action to bound the accumulation."""
    from pyspark.sql.types import LongType, StructField, StructType

    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    spark = df.sparkSession
    parts = spark.sparkContext.defaultParallelism
    if cut_input:
        # Round 13: ``repartitionByRange`` executes its child TWICE —
        # once for the RangePartitioner's bound-sampling pass, once for
        # the actual shuffle. Callers whose input is itself an
        # expensive DAG (p07's six-stage clean corpus, p14's span
        # scrub) pass cut_input=True to materialize the narrow
        # pre-pack rows first (iter_materialize: localCheckpoint, or a
        # reliable checkpoint when a checkpoint dir is set — at 100 TB
        # this is the pre-pack table a deployment writes anyway), so the
        # sampling pass re-reads cheap blocks instead of re-running
        # the pipeline. Cheap inputs (p03/p04's scan projections)
        # keep the default — the cut job would cost more than the
        # second scan.
        from kafka2clickhouse_py_streamer_spark.functions.graph import (
            iter_materialize,
        )

        df = iter_materialize(df)
    ranged = df.repartitionByRange(
        parts, *group_cols, *order_cols
    ).withColumn("pid", F.spark_partition_id())
    from pyspark import StorageLevel

    # Cluster: disk-only, 2× replicated — nothing multi-terabyte
    # pinned in executor MEMORY, executor loss reads the replica.
    # Local master: memory-first with disk spill (there is no peer
    # to replicate to and no terabyte frame to pin — a forced
    # disk round-trip would only slow the single node down).
    # Lineage is retained either way, so total block loss
    # recomputes instead of killing the job.
    local = spark.conf.get("spark.master", "").startswith("local")
    # registered for release_offsets_materializations — the entry
    # otherwise lives until clearCache/session end; the registry
    # warns past the cap; release stays caller-controlled
    ranged = _persist_offsets(
        ranged,
        StorageLevel.MEMORY_AND_DISK if local else StorageLevel.DISK_ONLY_2,
    )
    totals = (
        ranged.groupBy(*group_cols, "pid")
        .agg(F.sum(val_col).alias("tot"))
        .orderBy(*group_cols, "pid")
        .collect()
    )
    offsets, acc, cur = [], 0, object()
    for row in totals:
        key = tuple(row[c] for c in group_cols)
        if key != cur:
            cur, acc = key, 0
        offsets.append((*key, row["pid"], acc))
        # a partition whose rows ALL carry null val_col sums to None
        # (sum ignores nulls); it contributes 0 to downstream offsets —
        # same contract as the window sum, which also skips nulls
        acc += row["tot"] or 0
    schema = StructType(
        [ranged.schema[c] for c in group_cols]
        + [ranged.schema["pid"], StructField("off", LongType())]
    )
    off = spark.createDataFrame(offsets, schema)
    w = (
        Window.partitionBy(*group_cols, "pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.join(F.broadcast(off), [*group_cols, "pid"])
        .withColumn(
            "stream_offset",
            F.coalesce(F.sum(val_col).over(w), F.lit(0)) + F.col("off"),
        )
        .drop("pid", "off")
    )


def p01_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic train/val/test assignment per document.

    rand()-based splits are irreproducible across retries and engines;
    hashing the stable key means a document lands in the same split on
    every run, every cluster size, and in the oracle. No shuffle: the
    assignment is a row-local projection."""
    d = table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    return d.select(
        "doc_id",
        b.alias("bucket"),
        F.when(b < TRAIN_END, F.lit("train"))
        .when(b < VAL_END, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).orderBy("doc_id")


P01_SQL = f"""
SELECT doc_id,
       {_bucket_sql('doc_id')} AS bucket,
       CASE WHEN {_bucket_sql('doc_id')} < {TRAIN_END} THEN 'train'
            WHEN {_bucket_sql('doc_id')} < {VAL_END} THEN 'val'
            ELSE 'test' END AS split
FROM documents
ORDER BY doc_id
"""


def p02_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep-rates applied
    as a bucket threshold. The distributed form of ``sampleBy`` with
    exact reproducibility — keep iff bucket(doc_id) < rate(lang). Pure
    filter over one scan (predicate pushes to the parquet reader for the
    lang column at scale)."""
    d = table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    rate = F.lit(DEFAULT_RATE)
    for lang, r in STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        d.select("doc_id", "lang", b.alias("bucket"), rate.alias("keep_rate"))
        .filter(F.col("bucket") < F.col("keep_rate"))
        .orderBy("doc_id")
    )


def _p02_sql() -> str:
    whens = "\n            ".join(
        f"WHEN lang = '{lang}' THEN {r}" for lang, r in STRATA_RATES.items()
    )
    return f"""
WITH tagged AS (
  SELECT doc_id, lang,
         {_bucket_sql('doc_id')} AS bucket,
         CASE {whens} ELSE {DEFAULT_RATE} END AS keep_rate
  FROM documents
)
SELECT doc_id, lang, bucket, CAST(keep_rate AS INTEGER) AS keep_rate
FROM tagged
WHERE bucket < keep_rate
ORDER BY doc_id
"""


def p03_sequence_packing(
    spark: SparkSession, sf_dir: str, shard_col: str | None = None
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in
    doc_id order and cut every PACK_BUDGET tokens. Each doc gets the
    pack it *starts* in and its token offset within the stream — the
    bookkeeping a pretraining shard writer needs.

    Scale shape: a naive global ``Window.orderBy`` funnels every row
    through ONE partition. Instead the global running sum uses the same
    distributed two-pass pattern as p04: range-repartition on doc_id →
    per-partition token totals (a |partitions|-row driver collect) →
    broadcast prefix offsets → partition-local running sum + offset.
    Every partition packs independently; no SinglePartition exchange
    (pinned in tests/test_plans.py).

    With ``shard_col`` the stream restarts per shard (each shard packs
    its own contiguous token stream): one hash shuffle on the shard key,
    window-partitioned running sum — the per-shard form for clusters
    that write one shard per task."""
    d = table(spark, sf_dir, "documents")

    def finish(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            "n_tokens",
            "stream_offset",
            F.floor(F.col("stream_offset") / PACK_BUDGET)
            .cast("long")
            .alias("pack_id"),
            (F.col("stream_offset") % PACK_BUDGET).alias("offset_in_pack"),
        ).orderBy("doc_id")

    if shard_col is not None:
        w = (
            Window.partitionBy(shard_col)
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return finish(
            d.select(shard_col, "doc_id", _n_tokens().alias("n_tokens"))
            .withColumn(
                "stream_offset",
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0)),
            )
        )

    return finish(
        _two_pass_offsets(
            d.select("doc_id", _n_tokens().alias("n_tokens")), []
        )
    )


P03_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                   ELSE LEN(regexp_split_to_array(TRIM(text), '\s+'))
              END AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS stream_offset
  FROM toks
)
SELECT doc_id, n_tokens,
       CAST(stream_offset AS BIGINT) AS stream_offset,
       CAST(FLOOR(stream_offset / {PACK_BUDGET}) AS BIGINT) AS pack_id,
       CAST(stream_offset % {PACK_BUDGET} AS BIGINT) AS offset_in_pack
FROM packed
ORDER BY doc_id
"""


def p04_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle: order documents by
    md5(doc_id) and assign the shuffled position. rand()-ordering is
    irreproducible; hash-ordering gives the same permutation on every
    run and engine.

    The global contiguous rank is computed with the distributed
    two-pass pattern, NOT a global window (which would funnel every
    row through one partition). Unlike the generic
    ``_two_pass_offsets`` (arbitrary sort key → range boundaries
    come from sampling, so the two passes must read one disk-backed
    materialization to agree), the sort key here is md5 hex — uniform
    and fixed-width — so the bucket is a PURE FUNCTION of the key: the
    first 4 hex chars scaled into ``parts`` range buckets, monotone in
    the key. Both passes recompute it identically with no
    materialization at all, nothing on executor disk, and full
    lineage retained. Pass 1: per-bucket counts (map-side partial agg,
    |buckets|-row driver collect). Pass 2: prefix offsets broadcast
    back + bucket-local row_number. At 100 TB that is two scans of a
    one-column projection instead of one scan plus a pinned
    multi-terabyte checkpoint."""
    d = table(spark, sf_dir, "documents")
    # COALESCE before hashing (as in p13): a NULL doc_id must not
    # yield a NULL sort key — the engines' opposite NULLS FIRST/LAST
    # window defaults would place it at opposite ends of the line
    key = F.md5(F.coalesce(F.col("doc_id").cast("string"), F.lit("")))
    parts = spark.sparkContext.defaultParallelism
    # Monotone in shuffle_key: fixed-width lowercase hex sorts
    # lexicographically == numerically, so floor(prefix * parts / 16^4)
    # never decreases as the key grows. md5 uniformity balances buckets.
    bucket = (
        (F.conv(F.substring(key, 1, 4), 16, 10).cast("long") * parts)
        / F.lit(16**4)
    ).cast("int")
    keyed = d.select(
        "doc_id", key.alias("shuffle_key"), bucket.alias("bkt")
    )
    counts = (
        keyed.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bkt")
        .collect()
    )
    offsets, acc = [], 0
    for row in counts:
        offsets.append((row["bkt"], acc))
        acc += row["n"]
    off = spark.createDataFrame(offsets or [(0, 0)], "bkt int, off long")
    w = Window.partitionBy("bkt").orderBy("shuffle_key", "doc_id")
    return (
        keyed.join(F.broadcast(off), "bkt")
        .select(
            "doc_id",
            "shuffle_key",
            (F.row_number().over(w) + F.col("off")).cast("long").alias(
                "shuffle_pos"
            ),
        )
        .orderBy("shuffle_pos")
    )


P04_SQL = """
SELECT doc_id,
       md5(COALESCE(CAST(doc_id AS VARCHAR), '')) AS shuffle_key,
       CAST(ROW_NUMBER() OVER (
            ORDER BY md5(COALESCE(CAST(doc_id AS VARCHAR), '')), doc_id)
            AS BIGINT) AS shuffle_pos
FROM documents
ORDER BY shuffle_pos
"""


def p05_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning pipeline a training-data user actually
    runs as ONE job: quality gate (token-count band, t02's first rule)
    → exact-dedup keep-first (d01's md5 key, min-doc_id policy) →
    deterministic split assignment (p01's hash bucket).

    Scale shape: one scan with the quality predicate applied row-local,
    ONE shuffle (the dedup window on the 128-bit content hash), then
    the split is again row-local — the whole corpus clean is a single
    exchange end to end."""
    kept = _quality_deduped(table(spark, sf_dir, "documents"))
    b = _bucket(F.col("doc_id"))
    return kept.select(
        "doc_id",
        "n_tokens",
        F.when(b < TRAIN_END, F.lit("train"))
        .when(b < VAL_END, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).orderBy("doc_id")


P05_SQL = rf"""
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(regexp_split_to_array(TRIM(text), '\s+'))
         END AS n_tokens
  FROM documents
),
quality AS (
  SELECT * FROM toks WHERE n_tokens BETWEEN 10 AND 1000
),
kept AS (
  SELECT doc_id, n_tokens,
         MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keeper
  FROM quality
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN {_bucket_sql('doc_id')} < {TRAIN_END} THEN 'train'
            WHEN {_bucket_sql('doc_id')} < {VAL_END} THEN 'val'
            ELSE 'test' END AS split
FROM kept
WHERE doc_id = keeper
ORDER BY doc_id
"""


DOMAIN_CAP = 15  # max docs kept per source for the balanced mix


def p06_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-balanced corpus mixing: cap every source (domain) at
    DOMAIN_CAP documents, picking each domain's docs in deterministic
    md5(doc_id) order — the downsampling step that rebalances a corpus
    dominated by a few giant domains (the Pile/Dolma-style mixture
    weights, expressed as a hard per-domain cap).

    Scale shape: one hash shuffle on the domain key, then a
    partition-local row_number and filter. A 100 TB corpus has a
    heavy-tailed domain distribution — the win is that only the
    SELECTION shuffles domain-wise; and because the keep-set is the
    cap-smallest hash values per domain, a giant domain can pre-filter
    with a bucket predicate (p02's trick) before the window, so the
    skewed window input stays bounded. rand()-free: the same mix on
    every run, cluster size, and engine."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source")
        .withColumn("domain_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("domain_rank") <= DOMAIN_CAP)
        .orderBy("source", "domain_rank")
    )


P06_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
           AS domain_rank
  FROM documents
)
SELECT doc_id, source, domain_rank
FROM ranked
WHERE domain_rank <= {DOMAIN_CAP}
ORDER BY source, domain_rank
"""


def p07_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-prep pipeline as ONE declarative job — the
    flagship composition a pretraining-data user actually runs:

      1. quality gate (token band, t02's first rule)
      2. exact dedup, keep-first (d01's policy)
      3. decontaminate: drop the eval set (src0) and every doc whose
         word-3-shingle overlap with it is >= d09's threshold
      4. domain balance: cap each source at p06's limit
      5. split assignment (p01's hash bucket)
      6. per-split sequence packing (p03's shard form)

    Declaring all six stages in one DataFrame DAG lets Catalyst fuse
    the row-local stages (1, 5) into neighboring scans/joins — the
    pipeline pays the dedup window key shuffle, the contamination
    probe's (doc, bench) agg, the domain window, and the packing
    exchange. The benchmark side of stage 3 stays a broadcast, and the
    packing offsets use the distributed two-pass pattern (a window
    partitioned by the 3-value split column would put the whole train
    split — 80% of the corpus — on ONE task)."""
    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        CONTAM_FLAG,
        _shingle_rows,
        _shingle_sizes,
    )

    d = table(spark, sf_dir, "documents")
    kept = _quality_deduped(d).filter(F.col("source") != "src0")

    # round 13: per-doc shingle counts are a row-local projection
    # (`_shingle_sizes` — size() of the same array the probe explodes)
    # instead of a second explode→groupBy pass. The anti-join below is
    # deliberately UNHINTED: the contaminated id set is
    # benchmark-bounded (d09's rationale), and under the session join
    # defaults (AQE strategy switch + preferSortMergeJoin=false,
    # session.py) the runtime plan picks the broadcast/hash form by
    # itself — explicit F.broadcast hint chains through this DAG
    # measured 2× SLOWER (they serialize the broadcast jobs; r13 §4).
    # Before those session defaults the static plan was a
    # SortMergeJoin LeftAnti shuffling the whole deduped corpus.
    sh = _shingle_rows(spark, sf_dir)
    bench = sh.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    corpus_sh = sh.filter(F.col("source") != "src0").select("doc_id", "s")
    sizes = _shingle_sizes(spark, sf_dir).filter(
        F.col("source") != "src0"
    ).select("doc_id", "n")
    contaminated = (
        corpus_sh.join(F.broadcast(bench), "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes, "doc_id")
        .filter(F.col("n_common") / F.col("n") >= CONTAM_FLAG)
        .select("doc_id")
    )
    clean = kept.join(contaminated, "doc_id", "left_anti")

    dom = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    mixed = (
        clean.withColumn("domain_rank", F.row_number().over(dom))
        .filter(F.col("domain_rank") <= DOMAIN_CAP)
        .drop("domain_rank")
    )

    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < TRAIN_END, F.lit("train"))
        .when(b < VAL_END, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    packed = _two_pass_offsets(
        mixed.withColumn("split", split), ["split"], cut_input=True
    )
    return (
        packed.select(
            "doc_id",
            "source",
            "split",
            "n_tokens",
            F.floor(F.col("stream_offset") / PACK_BUDGET)
            .cast("long")
            .alias("pack_id"),
        )
        .orderBy("doc_id")
    )


def _p07_sql() -> str:
    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        CONTAM_FLAG,
        _DUCK_SHINGLES_CTE,
    )

    return rf"""
WITH {_DUCK_SHINGLES_CTE},
dtoks AS (
  SELECT doc_id, source, text,
         CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                   ELSE LEN(regexp_split_to_array(TRIM(text), '\s+'))
              END AS BIGINT) AS n_tokens
  FROM documents
),
quality AS (
  SELECT * FROM dtoks WHERE n_tokens BETWEEN 10 AND 1000
),
kept AS (
  SELECT doc_id, source, n_tokens
  FROM (SELECT doc_id, source, n_tokens,
               MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keeper
        FROM quality)
  WHERE doc_id = keeper AND source <> 'src0'
),
bench AS (SELECT doc_id AS bench_id, s FROM shingles WHERE source = 'src0'),
corpus AS (SELECT doc_id, s FROM shingles WHERE source <> 'src0'),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM corpus GROUP BY doc_id),
contaminated AS (
  SELECT DISTINCT i.doc_id
  FROM (SELECT c.doc_id, b.bench_id, COUNT(*) AS n_common
        FROM corpus c JOIN bench b ON b.s = c.s
        GROUP BY c.doc_id, b.bench_id) i
  JOIN sizes sz ON sz.doc_id = i.doc_id
  WHERE CAST(i.n_common AS DOUBLE) / sz.n >= {CONTAM_FLAG}
),
clean AS (
  SELECT k.* FROM kept k
  WHERE k.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
mixed AS (
  SELECT doc_id, source, n_tokens
  FROM (SELECT *,
               ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                 AS domain_rank
        FROM clean)
  WHERE domain_rank <= {DOMAIN_CAP}
),
tagged AS (
  SELECT doc_id, source, n_tokens,
         CASE WHEN {_bucket_sql('doc_id')} < {TRAIN_END} THEN 'train'
              WHEN {_bucket_sql('doc_id')} < {VAL_END} THEN 'val'
              ELSE 'test' END AS split
  FROM mixed
)
SELECT doc_id, source, split, n_tokens,
       CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY split
                ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {PACK_BUDGET}) AS BIGINT) AS pack_id
FROM tagged
ORDER BY doc_id
"""


FLATTEN_TARGET = 20  # expected docs kept per domain by p08
# p08 needs its own, much finer bucket space: with p01's 100 buckets a
# domain larger than 100·TARGET docs would floor to rate 0 and be
# DELETED entirely. 1e6 buckets represent rates down to 1e-6, so
# domains up to TARGET·1e6 docs flatten correctly; beyond that the
# rate floors at 1 (over-keeps rather than deletes).
FLATTEN_BUCKETS = 1_000_000


def _flatten_bucket(col):
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % FLATTEN_BUCKETS
    )


def _flatten_bucket_sql(key: str) -> str:
    return (
        f"CAST('0x' || SUBSTRING(md5(CAST({key} AS VARCHAR)), 1, 8)"
        f" AS BIGINT) % {FLATTEN_BUCKETS}"
    )


def p08_flatten_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic domain flattening: keep each document with
    per-domain rate ≈ FLATTEN_TARGET / |domain|, via the deterministic
    md5 bucket — the hash-thresholding alternative to p06's exact
    window cap.

    Why both exist: p06's row_number cap is exact but must sort every
    domain's survivors through a window; this version needs only the
    tiny per-domain count table (broadcast back), so a 100 TB corpus
    flattens with ONE small agg + a row-local predicate — no per-domain
    window at all. The trade is exactness: each domain keeps
    FLATTEN_TARGET docs in expectation, not exactly.

    The rate lives in a 1e6-wide bucket space and never floors below 1
    (GREATEST), so a domain can never be silently deleted; domains past
    FLATTEN_TARGET·FLATTEN_BUCKETS docs keep ~n/1e6 in expectation —
    over target, never zero.

    Determinism parity: the keep-rate is greatest(1, floor(BUCKETS·
    TARGET / n)) — integer-valued double arithmetic that rounds
    identically on Spark and DuckDB — and the bucket is the shared md5
    prefix scheme, so the oracle reproduces the sample bit-for-bit."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_dom"))
    rate = F.greatest(
        F.lit(1),
        F.least(
            F.lit(FLATTEN_BUCKETS),
            F.floor(
                F.lit(float(FLATTEN_BUCKETS * FLATTEN_TARGET))
                / F.col("n_dom")
            ),
        ),
    ).cast("long")
    return (
        d.join(F.broadcast(counts), "source")
        .withColumn("keep_rate", rate)
        .filter(_flatten_bucket(F.col("doc_id")) < F.col("keep_rate"))
        .select("doc_id", "source", "keep_rate")
        .orderBy("doc_id")
    )


P08_SQL = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_dom FROM documents GROUP BY source
),
rated AS (
  SELECT d.doc_id, d.source,
         CAST(GREATEST(1, LEAST({FLATTEN_BUCKETS},
              FLOOR({float(FLATTEN_BUCKETS * FLATTEN_TARGET)} / c.n_dom)))
              AS BIGINT) AS keep_rate
  FROM documents d JOIN counts c USING (source)
)
SELECT doc_id, source, keep_rate
FROM rated
WHERE {_flatten_bucket_sql('doc_id')} < keep_rate
ORDER BY doc_id
"""


ARRIVAL_BUCKET = 80  # buckets >= this simulate the newly-arrived batch


def p09_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus refresh: admit a newly-arrived document batch
    against the existing corpus — within-batch exact dedup (keep-first)
    then drop every arrival whose content fingerprint already exists in
    the corpus. The production shape of corpus maintenance: the full
    pipeline (p05/p07) runs once; after that every new crawl/delivery
    goes through THIS operator.

    The arrival batch is simulated deterministically (md5 bucket >=
    ARRIVAL_BUCKET ≈ 20% of docs), so the oracle reproduces the exact
    partition.

    Scale shape: fingerprints are computed row-local on both sides and
    the anti-join shuffles 128-bit digests, never bodies (d01's rule).
    When the arrival batch is small relative to a 100 TB corpus, the
    deployment inverts the probe: semi-join the corpus against the
    BROADCAST batch digest set and anti-join the (tiny, bounded by
    |batch|) hit list back — the corpus side never shuffles. At fixture
    scale the symmetric digest shuffle is the honest plan."""
    d = table(spark, sf_dir, "documents")
    tagged = d.select(
        "doc_id",
        "source",
        F.md5("text").alias("fp"),
        _n_tokens().alias("n_tokens"),
        _bucket(F.col("doc_id")).alias("b"),
    )
    arrivals = tagged.filter(F.col("b") >= ARRIVAL_BUCKET)
    corpus = tagged.filter(F.col("b") < ARRIVAL_BUCKET)
    # within-batch keep-first on content
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    batch_unique = (
        arrivals.withColumn("keeper", keeper)
        .filter(F.col("doc_id") == F.col("keeper"))
        .drop("keeper")
    )
    admitted = batch_unique.join(
        corpus.select("fp"), "fp", "left_anti"
    )
    return admitted.select("doc_id", "source", "n_tokens").orderBy(
        "doc_id"
    )


P09_SQL = rf"""
WITH tagged AS (
  SELECT doc_id, source, MD5(text) AS fp,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(regexp_split_to_array(TRIM(text), '\s+'))
         END AS n_tokens,
         {_bucket_sql('doc_id')} AS b
  FROM documents
),
arrivals AS (SELECT * FROM tagged WHERE b >= {ARRIVAL_BUCKET}),
corpus AS (SELECT * FROM tagged WHERE b < {ARRIVAL_BUCKET}),
batch_unique AS (
  SELECT * FROM (
    SELECT a.*, MIN(doc_id) OVER (PARTITION BY fp) AS keeper
    FROM arrivals a
  ) WHERE doc_id = keeper
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
FROM batch_unique bu
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = bu.fp)
ORDER BY doc_id
"""


TOKEN_BUDGET = 10_000  # p10 global selection budget (tokens)


def p10_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget: rank documents by the t02
    quality heuristic (best first, doc_id tiebreak) and admit each doc
    whose stream offset — total tokens of all better-ranked docs — is
    still under ``TOKEN_BUDGET``. The standard "spend my compute on the
    best N tokens" selection step before pretraining.

    Scale shape: the global quality-ordered running sum reuses the
    distributed two-pass offsets pattern (range partition on the
    composite (neg_score, doc_id) key → per-partition totals →
    broadcast prefix offsets → partition-local window), so no
    SinglePartition funnel; the score itself is a row-local codegen
    projection (``llm.text.quality_score_col`` — one source of truth
    with t02 and its oracle)."""
    from kafka2clickhouse_py_streamer_spark.llm.text import quality_score_col

    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        _n_tokens().alias("n_tokens"),
        F.round(quality_score_col(), 2).alias("quality_score"),
    ).withColumn("neg_score", -F.col("quality_score"))
    ranked = _two_pass_offsets(
        scored, [], val_col="n_tokens", order_col=["neg_score", "doc_id"]
    )
    return (
        ranked.filter(F.col("stream_offset") < TOKEN_BUDGET)
        .select(
            "doc_id",
            "quality_score",
            "n_tokens",
            F.col("stream_offset").cast("long").alias("cum_before"),
        )
        .orderBy("doc_id")
    )


def _p10_sql() -> str:
    from kafka2clickhouse_py_streamer_spark.llm.text import QUALITY_SCORE_SQL

    return rf"""
WITH scored AS (
  SELECT doc_id,
         CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS BIGINT)
           AS n_tokens,
         ROUND({QUALITY_SCORE_SQL}, 2) AS quality_score
  FROM documents
),
ranked AS (
  SELECT doc_id, quality_score, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             ORDER BY quality_score DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM scored
)
SELECT doc_id, quality_score, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
FROM ranked
WHERE cum_before < {TOKEN_BUDGET}
ORDER BY doc_id
"""


P10_SQL = _p10_sql()


PPS_SAMPLES = 100


def p13_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size (PPS) systematic sampling: draw
    ~``PPS_SAMPLES`` documents with inclusion probability proportional
    to their length. Docs are laid on a weight line in md5(doc_id)
    order (uniform, reproducible — same rationale as p04's shuffle
    key); a doc is selected iff its weight span [off, off+w) crosses a
    multiple of total/m. Oversized docs (w > step) are certainty
    selections covering several slots — ``n_slots`` records how many.

    ENTIRELY integer arithmetic ((off·m) div total — no float
    boundaries to disagree on), so both engines select the identical
    sample. Scale shape: the global running offset is the distributed
    two-pass pattern (range partition → per-partition totals →
    broadcast prefixes); the grand total joins back as a broadcast
    one-row frame. No SinglePartition, no driver-sized collect."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        F.greatest(
            F.coalesce(F.col("n_chars"), F.lit(0)), F.lit(1)
        ).cast("long").alias("w"),
        # COALESCE before hashing: a NULL doc_id must not yield a NULL
        # sort key (Spark windows default NULLS FIRST, DuckDB NULLS
        # LAST — an unpinned null key shifts every downstream offset).
        # Distinct doc_ids are the contract (primary key), as in p04.
        F.md5(
            F.coalesce(F.col("doc_id").cast("string"), F.lit(""))
        ).alias("skey"),
    )
    off = _two_pass_offsets(base, [], val_col="w", order_col="skey")
    total = base.agg(F.sum("w").alias("total"))
    return (
        off.crossJoin(F.broadcast(total))
        .withColumn(
            "n_slots",
            (F.expr(f"((stream_offset + w) * {PPS_SAMPLES}) div total")
             - F.expr(f"(stream_offset * {PPS_SAMPLES}) div total"))
            .cast("long"),
        )
        .filter(F.col("n_slots") > 0)
        .select(
            "doc_id",
            "source",
            F.col("w").alias("weight"),
            "n_slots",
        )
        .orderBy("doc_id")
    )


P13_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(GREATEST(COALESCE(n_chars, 0), 1) AS BIGINT) AS w,
         md5(COALESCE(CAST(doc_id AS VARCHAR), '')) AS skey
  FROM documents
),
o AS (
  SELECT *,
         COALESCE(SUM(w) OVER (ORDER BY skey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS off
  FROM base
),
t AS (SELECT SUM(w) AS total FROM base)
SELECT doc_id, source, w AS weight,
       CAST(((off + w) * {PPS_SAMPLES}) // total
            - (off * {PPS_SAMPLES}) // total AS BIGINT) AS n_slots
FROM o, t
WHERE ((off + w) * {PPS_SAMPLES}) // total
      > (off * {PPS_SAMPLES}) // total
ORDER BY doc_id
"""


N_CURRICULUM_STAGES = 4


def p11_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: order the corpus easy→hard (average token
    length ascending — short-word prose first — with doc_id tiebreak)
    and split it into N stages of EQUAL TOKEN MASS, not equal doc
    count: ``stage = (tokens_before · N) div total_tokens``. The
    curriculum-learning data layout: stage 0 feeds the first quarter of
    training tokens, stage N-1 the last.

    Scale shape: the global ordered running sum reuses the two-pass
    offsets pattern (range partition on (difficulty, doc_id) →
    per-partition totals → broadcast prefix offsets), so no
    SinglePartition; the total is a one-row broadcast and the stage id
    is pure integer arithmetic (no float boundary ambiguity between
    engines)."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.coalesce(_n_tokens(), F.lit(0)).cast("long").alias("n_tokens"),
        # raw double for ordering; identical integer inputs on both
        # engines -> identical doubles -> identical order. COALESCE to
        # 0.0 so null-text docs take a deterministic place (easiest) —
        # otherwise Spark windows order nulls FIRST and DuckDB LAST,
        # and the cumulative sums silently disagree.
        F.coalesce(
            F.col("n_chars").cast("double")
            / F.greatest(_n_tokens(), F.lit(1)).cast("double"),
            F.lit(0.0),
        ).alias("avg_tok_len"),
    )
    ranked = _two_pass_offsets(
        scored, [], val_col="n_tokens", order_col=["avg_tok_len", "doc_id"]
    )
    total = scored.agg(F.sum("n_tokens").alias("total_tokens"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            F.round("avg_tok_len", 4).alias("avg_tok_len"),
            # empty-corpus guard: total 0 -> everything is stage 0
            # (Spark's ANSI div would throw; DuckDB's // yields NULL)
            F.when(
                F.col("total_tokens") > 0,
                F.least(
                    F.expr(
                        f"(stream_offset * {N_CURRICULUM_STAGES})"
                        " div total_tokens"
                    ),
                    F.lit(N_CURRICULUM_STAGES - 1),
                ),
            ).otherwise(F.lit(0)).cast("long").alias("stage"),
        )
        .orderBy("doc_id")
    )


P11_SQL = rf"""
WITH scored AS (
  SELECT doc_id,
         CAST(COALESCE(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END, 0)
           AS BIGINT) AS n_tokens,
         COALESCE(CAST(n_chars AS DOUBLE) / GREATEST(
           CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END, 1),
           0.0) AS avg_tok_len
  FROM documents
),
ranked AS (
  SELECT doc_id, n_tokens, avg_tok_len,
         COALESCE(SUM(n_tokens) OVER (
             ORDER BY avg_tok_len, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         SUM(n_tokens) OVER () AS total_tokens
  FROM scored
)
SELECT doc_id, n_tokens, ROUND(avg_tok_len, 4) AS avg_tok_len,
       CAST(CASE WHEN total_tokens > 0
                 THEN LEAST((cum_before * {N_CURRICULUM_STAGES}) // total_tokens,
                            {N_CURRICULUM_STAGES - 1})
                 ELSE 0 END AS BIGINT) AS stage
FROM ranked
ORDER BY doc_id
"""


MIX_ALPHA = 0.5  # temperature exponent: share^alpha (T = 1/alpha = 2)


def p12_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture — the standard multilingual /
    multi-domain sampling scheme (share^α, α = 0.5 ⇔ T = 2): raw token
    shares are flattened toward uniform, giving each source a target
    token count at the same corpus total and the epoch factor
    (>1 = the domain is repeated — upsampled low-resource sources,
    exactly how real mixtures spend extra passes on small domains).
    Complements p06 (hard per-source cap) and p08 (hash-threshold
    flattening) with the smooth, principled weighting.

    Scale shape: ONE partial+final hash agg on source collapses the
    corpus to |sources| rows; the α-normalization works on that tiny
    frame against a one-row broadcast total. Nothing else touches the
    fact table — the weights then drive p02/p08-style row-local
    sampling."""
    d = table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce(_n_tokens(), F.lit(0))).alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_tokens").cast("double").alias("total_tokens"),
        F.sum(
            F.pow(F.col("n_tokens").cast("double"), MIX_ALPHA)
        ).alias("z"),
    )
    share = F.col("n_tokens") / F.col("total_tokens")
    w_t = F.pow(F.col("n_tokens").cast("double"), MIX_ALPHA) / F.col("z")
    target = w_t * F.col("total_tokens")
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            # zero guards: an all-empty source (n_tokens 0) gets NULL
            # epochs; a fully-empty corpus gets NULL shares — Spark's
            # ANSI division would throw where DuckDB yields NULL
            F.when(F.col("total_tokens") > 0, F.round(share, 6))
            .alias("raw_share"),
            F.when(F.col("z") > 0, F.round(w_t, 6)).alias("weight_t"),
            F.when(F.col("z") > 0, F.round(target, 2))
            .alias("target_tokens"),
            F.when(
                (F.col("z") > 0) & (F.col("n_tokens") > 0),
                F.round(target / F.col("n_tokens"), 4),
            ).alias("epochs"),
        )
        .orderBy("source")
    )


P12_SQL = rf"""
WITH per_src AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(COALESCE(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
             ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END, 0))
           AS n_tokens
  FROM documents
  GROUP BY source
),
totals AS (
  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total_tokens,
         SUM(POWER(CAST(n_tokens AS DOUBLE), {MIX_ALPHA})) AS z
  FROM per_src
)
SELECT source,
       n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN total_tokens > 0
            THEN ROUND(n_tokens / total_tokens, 6) END AS raw_share,
       CASE WHEN z > 0
            THEN ROUND(POWER(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) / z, 6)
       END AS weight_t,
       CASE WHEN z > 0
            THEN ROUND(POWER(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) / z
                       * total_tokens, 2) END AS target_tokens,
       CASE WHEN z > 0 AND n_tokens > 0
            THEN ROUND(POWER(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) / z
                       * total_tokens / n_tokens, 4) END AS epochs
FROM per_src, totals
ORDER BY source
"""


def p14_span_scrub_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup END TO END in one DAG — the way a real
    pretraining pipeline runs it (Lee et al. 2022 detection + removal,
    then repack):

      1. detect duplicated ``SPAN_W``-token spans (d12's count-only
         hash aggregate — no pair join)
      2. excise every non-canonical occurrence and rebuild each doc
         (d16's policy, via the shared ``_span_scrubbed`` core)
      3. drop documents scrubbed to nothing (they carry no signal)
      4. assign the p01 hash split
      5. pack each split's stream into PACK_BUDGET-token sequences
         over the POST-scrub token counts (p03's two-pass offsets —
         packing pre-scrub counts would misplace every boundary)

    Declaring the five stages in one DataFrame DAG keeps the plan at
    the SUM of its parts: the scrub's explode/agg shuffles, then the
    packing exchange — the split assignment and empty-doc gate are
    row-local projections Catalyst fuses into their neighbors (no
    extra shuffle anywhere; pinned in tests/test_plans.py).

    Scale shape: inherits `_span_scrubbed`'s linear explodes (digests
    + positions on the wire) and `_two_pass_offsets`' no-SinglePartition
    packing; nothing here adds a driver collect beyond the
    |partitions|-row offsets."""
    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        _span_scrub_counts,
    )

    # counts-only scrub core (round 13): p14 never reads the rebuilt
    # body, so it uses `_span_scrub_counts` — same policy and numbers
    # as `_span_scrubbed` (equivalence pinned by a direct test) but the
    # token stream never explodes/shuffles; only removed-span
    # occurrences move (interval-union arithmetic). Plan: 38 → 22
    # exchanges at sf0.1; the per-token shuffle payload is gone at
    # every scale. d16 (which publishes the rebuilt body) keeps the
    # full `_span_scrubbed` path.
    s = _span_scrub_counts(spark, sf_dir).filter(F.col("n_kept") > 0)
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < TRAIN_END, F.lit("train"))
        .when(b < VAL_END, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    tagged = s.select(
        "doc_id",
        F.col("n_kept").alias("n_tokens"),
        "n_removed",
        split.alias("split"),
    )
    packed = _two_pass_offsets(tagged, ["split"], cut_input=True)
    return (
        packed.select(
            "doc_id",
            "split",
            "n_tokens",
            "n_removed",
            F.floor(F.col("stream_offset") / PACK_BUDGET)
            .cast("long")
            .alias("pack_id"),
        )
        .orderBy("doc_id")
    )


def _p14_sql() -> str:
    from kafka2clickhouse_py_streamer_spark.llm.dedup import _D16_CTE

    return rf"""
WITH {_D16_CTE},
scrubbed AS (
  SELECT sp.doc_id,
         COALESCE(r.n_kept, 0) AS n_kept,
         CAST(sp.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
  FROM spine sp
  LEFT JOIN rebuilt r ON r.doc_id = sp.doc_id
),
tagged AS (
  SELECT doc_id,
         CAST(n_kept AS BIGINT) AS n_tokens,
         n_removed,
         CASE WHEN {_bucket_sql('doc_id')} < {TRAIN_END} THEN 'train'
              WHEN {_bucket_sql('doc_id')} < {VAL_END} THEN 'val'
              ELSE 'test' END AS split
  FROM scrubbed
  WHERE n_kept > 0
)
SELECT doc_id, split, n_tokens, n_removed,
       CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY split
                ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {PACK_BUDGET}) AS BIGINT) AS pack_id
FROM tagged
ORDER BY doc_id
"""


def p15_dedup_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup SHIFTS the mixture: exact dedup (d01's keep-min-id
    policy) removes copies unevenly across sources, so temperature
    weights computed on the raw corpus (p12) are wrong for the corpus
    that actually trains. p15 reports, per source, token mass and
    share^α weight BEFORE vs AFTER exact dedup and the weight delta —
    the correction a real pipeline applies between its dedup and
    mixing stages (heavy-duplication sources lose weight; clean
    sources gain it).

    Scale shape: one MD5-key window marks keepers (d01/p07's pattern,
    one hash shuffle), two |sources|-row aggregates, and the α
    normalization on those tiny frames against one-row broadcast
    totals — the corpus is touched twice, shuffled once."""
    d = table(spark, sf_dir, "documents")
    nt = F.coalesce(_n_tokens(), F.lit(0))
    base = d.select(
        "doc_id",
        "source",
        nt.alias("nt"),
        F.md5("text").alias("fp"),
    ).withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("fp"))
    )
    before = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_before"),
        F.sum("nt").alias("tok_before"),
    )
    after = base.filter(F.col("doc_id") == F.col("keeper")).groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).alias("docs_after"),
        F.sum("nt").alias("tok_after"),
    )
    # eqNullSafe: a NULL source is a real group (documents with no
    # provenance) — a plain equi-join would orphan its post-dedup mass
    # and silently skew every weight (the repo's standing NULL-key
    # join trap; fixtures have no NULL source, so only a semantic
    # check can see it)
    b, a = before.alias("b"), after.alias("a")
    joined = b.join(
        a, F.col("b.source").eqNullSafe(F.col("a.source")), "left"
    ).select(
        F.col("b.source").alias("source"),
        F.col("b.docs_before").alias("docs_before"),
        F.col("b.tok_before").alias("tok_before"),
        F.coalesce("a.docs_after", F.lit(0)).alias("docs_after"),
        F.coalesce("a.tok_after", F.lit(0)).alias("tok_after"),
    )
    totals = joined.agg(
        F.sum(F.pow(F.col("tok_before").cast("double"), MIX_ALPHA)).alias(
            "zb"
        ),
        F.sum(F.pow(F.col("tok_after").cast("double"), MIX_ALPHA)).alias(
            "za"
        ),
    )
    wb = F.pow(F.col("tok_before").cast("double"), MIX_ALPHA) / F.col("zb")
    wa = F.pow(F.col("tok_after").cast("double"), MIX_ALPHA) / F.col("za")
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.col("docs_before").cast("long").alias("docs_before"),
            F.col("docs_after").cast("long").alias("docs_after"),
            F.col("tok_before").cast("long").alias("tokens_before"),
            F.col("tok_after").cast("long").alias("tokens_after"),
            F.when(F.col("zb") > 0, F.round(wb, 6)).alias("w_before"),
            F.when(F.col("za") > 0, F.round(wa, 6)).alias("w_after"),
            F.when(
                (F.col("zb") > 0) & (F.col("za") > 0),
                F.round(wa - wb, 6),
            ).alias("w_delta"),
        )
        .orderBy("source")
    )


def _p15_sql() -> str:
    return rf"""
WITH base AS (
  SELECT doc_id, source,
         COALESCE(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                       ELSE LEN(regexp_split_to_array(TRIM(text), '\s+'))
                  END, 0) AS nt,
         MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keeper
  FROM documents
),
before_agg AS (
  SELECT source, COUNT(*) AS docs_before, SUM(nt) AS tok_before
  FROM base GROUP BY source
),
after_agg AS (
  SELECT source, COUNT(*) AS docs_after, SUM(nt) AS tok_after
  FROM base WHERE doc_id = keeper GROUP BY source
),
joined AS (
  SELECT b.source, b.docs_before, b.tok_before,
         COALESCE(a.docs_after, 0) AS docs_after,
         COALESCE(a.tok_after, 0) AS tok_after
  FROM before_agg b
  LEFT JOIN after_agg a ON a.source IS NOT DISTINCT FROM b.source
),
totals AS (
  SELECT SUM(POW(CAST(tok_before AS DOUBLE), {MIX_ALPHA})) AS zb,
         SUM(POW(CAST(tok_after AS DOUBLE), {MIX_ALPHA})) AS za
  FROM joined
)
SELECT source,
       CAST(docs_before AS BIGINT) AS docs_before,
       CAST(docs_after AS BIGINT) AS docs_after,
       CAST(tok_before AS BIGINT) AS tokens_before,
       CAST(tok_after AS BIGINT) AS tokens_after,
       CASE WHEN zb > 0 THEN
         ROUND(POW(CAST(tok_before AS DOUBLE), {MIX_ALPHA}) / zb, 6)
       END AS w_before,
       CASE WHEN za > 0 THEN
         ROUND(POW(CAST(tok_after AS DOUBLE), {MIX_ALPHA}) / za, 6)
       END AS w_after,
       CASE WHEN zb > 0 AND za > 0 THEN
         ROUND(POW(CAST(tok_after AS DOUBLE), {MIX_ALPHA}) / za
               - POW(CAST(tok_before AS DOUBLE), {MIX_ALPHA}) / zb, 6)
       END AS w_delta
FROM joined, totals
ORDER BY source
"""


def p16_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over p03's packs — the number that
    directly drives training throughput (an 80%-full pack wastes 20%
    of every forward pass): per pack, the docs that START in it, the
    token mass contributed by docs starting there, how many tokens a
    straddling doc carries IN from the previous pack, and the fill
    ratio of the pack's budget. The report a shard writer checks
    before committing a packing configuration (budget vs document
    length distribution).

    Every pack except the last is exactly full under concat-and-chunk
    (carry_in + started mass ≥ budget by construction) — asserted by
    the invariants suite; what this audit actually measures is the
    straddle rate (docs cut across packs) and the tail pack's waste.

    A document spanning ≥ 2 packs fully covers intermediate packs in
    which no document starts; grouping doc starts alone would drop
    those packs from the audit (round-5 advice — the contiguous-id and
    every-non-tail-full claims silently broke on long-doc corpora).
    Such packs are synthesized from the straddler's span: fill 1.0 and
    n_docs_started 0 for fully-covered packs, partial fill when the
    corpus tail ends inside a pack no doc starts in.

    Scale shape: one hash agg keyed on pack_id over p03's (already
    two-pass-offset) output; carry-in is row-local arithmetic
    (budget − offset_in_pack of the first doc when it straddles); the
    synthesis explodes ~n_tokens/budget rows per long doc (bounded by
    the corpus token mass over the budget) and anti-joins the started
    packs. No new shuffle class."""
    packed = p03_sequence_packing(spark, sf_dir)
    carry_in = F.when(
        F.col("offset_in_pack") == F.min("offset_in_pack").over(
            Window.partitionBy("pack_id")
        ),
        F.col("offset_in_pack"),
    ).otherwise(F.lit(0))
    # offset_in_pack of the FIRST doc in a pack == tokens carried in
    # by the straddler from the previous pack (0 when aligned)
    per_pack = (
        packed.withColumn("carry_in", carry_in)
        .groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_started"),
            F.sum("n_tokens").cast("long").alias("tokens_started"),
            F.max("carry_in").cast("long").alias("tokens_carried_in"),
        )
    )
    fill = F.least(
        F.lit(1.0),
        (F.col("tokens_carried_in") + F.col("tokens_started"))
        / F.lit(float(PACK_BUDGET)),
    )
    started = per_pack.select(
        "pack_id",
        "n_docs_started",
        "tokens_started",
        "tokens_carried_in",
        F.round(fill, 6).alias("fill_ratio"),
    )
    endo = F.col("stream_offset") + F.col("n_tokens")
    straddled = (
        packed.select(
            F.col("pack_id").alias("start_pack"),
            endo.alias("endo"),
            F.floor((endo - 1) / PACK_BUDGET).cast("long").alias("lastp"),
        )
        .filter(F.col("lastp") > F.col("start_pack"))
        .select(
            F.explode(
                F.sequence(F.col("start_pack") + 1, F.col("lastp"))
            ).alias("pack_id"),
            "endo",
        )
        .select(
            "pack_id",
            F.least(
                F.lit(PACK_BUDGET).cast("long"),
                F.col("endo") - F.col("pack_id") * PACK_BUDGET,
            ).cast("long").alias("tokens_carried_in"),
        )
        .join(per_pack.select("pack_id"), "pack_id", "left_anti")
        .select(
            "pack_id",
            F.lit(0).cast("long").alias("n_docs_started"),
            F.lit(0).cast("long").alias("tokens_started"),
            "tokens_carried_in",
            F.round(
                F.col("tokens_carried_in") / F.lit(float(PACK_BUDGET)), 6
            ).alias("fill_ratio"),
        )
    )
    return started.unionByName(straddled).orderBy("pack_id")


def _p16_sql() -> str:
    return f"""
WITH packed AS ({P03_SQL.strip().rstrip()}),
marked AS (
  SELECT pack_id, n_tokens, offset_in_pack,
         CASE WHEN offset_in_pack = MIN(offset_in_pack)
                   OVER (PARTITION BY pack_id)
              THEN offset_in_pack ELSE 0 END AS carry_in
  FROM packed
),
per_pack AS (
  SELECT pack_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs_started,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens_started,
         CAST(MAX(carry_in) AS BIGINT) AS tokens_carried_in,
         ROUND(LEAST(1.0, (MAX(carry_in) + SUM(n_tokens))
                          / CAST({PACK_BUDGET} AS DOUBLE)), 6)
           AS fill_ratio
  FROM marked
  GROUP BY pack_id
),
strad AS (
  SELECT UNNEST(generate_series(pack_id + 1, lastp)) AS pack_id, endo
  FROM (
    SELECT pack_id,
           stream_offset + n_tokens AS endo,
           (stream_offset + n_tokens - 1) // {PACK_BUDGET} AS lastp
    FROM packed
  )
  WHERE lastp > pack_id
),
synth AS (
  SELECT s.pack_id,
         CAST(0 AS BIGINT) AS n_docs_started,
         CAST(0 AS BIGINT) AS tokens_started,
         CAST(LEAST({PACK_BUDGET}, s.endo - s.pack_id * {PACK_BUDGET})
              AS BIGINT) AS tokens_carried_in,
         ROUND(LEAST({PACK_BUDGET}, s.endo - s.pack_id * {PACK_BUDGET})
               / CAST({PACK_BUDGET} AS DOUBLE), 6) AS fill_ratio
  FROM strad s
  ANTI JOIN per_pack pp ON pp.pack_id = s.pack_id
)
SELECT * FROM (
  SELECT * FROM per_pack
  UNION ALL
  SELECT * FROM synth
)
ORDER BY pack_id
"""


P17_SHARDS = 4  # shard count for the chunk->pack composition
P18_SHARDS = 4  # output shards per split in the p18 manifest


def p18_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest generation — the commit record a shard writer
    publishes next to the data: per (split, shard), the document
    count, total token mass, the number of PACK_BUDGET packs that mass
    fills (ceil), and an ORDER-INSENSITIVE 60-bit content digest
    (bit_xor of each doc's md5-prefix fingerprint). A reader verifies
    shard integrity by recomputing the xor in any order — exactly the
    property a distributed writer needs, since task completion order
    is nondeterministic. Split is p01's hash bucket; shard is
    doc_id mod P18_SHARDS.

    Scale shape: one row-local projection (bucket, fingerprint, token
    count ride the scan) + ONE hash agg on (split, shard) — map-side
    combines to ≤ 3×P18_SHARDS rows per partition. Nothing else
    touches the wire; this is manifest generation at scan speed."""
    d = table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < TRAIN_END, F.lit("train"))
        .when(b < VAL_END, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    fp = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    g = d.select(
        split.alias("split"),
        (F.col("doc_id") % P18_SHARDS).cast("long").alias("shard"),
        _n_tokens().alias("n_tokens"),
        fp.alias("fp"),
    )
    return (
        g.groupBy("split", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.expr(
                f"(sum(n_tokens) + {PACK_BUDGET - 1}) div {PACK_BUDGET}"
            ).cast("long").alias("n_packs"),
            F.expr("bit_xor(fp)").cast("long").alias("content_digest"),
        )
        .orderBy("split", "shard")
    )


P18_SQL = rf"""
WITH g AS (
  SELECT CASE WHEN {_bucket_sql('doc_id')} < {TRAIN_END} THEN 'train'
              WHEN {_bucket_sql('doc_id')} < {VAL_END} THEN 'val'
              ELSE 'test' END AS split,
         doc_id % {P18_SHARDS} AS shard,
         CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                   ELSE LEN(regexp_split_to_array(TRIM(text), '\s+'))
              END AS BIGINT) AS n_tokens,
         CAST('0x' || SUBSTRING(md5(text), 1, 15) AS BIGINT) AS fp
  FROM documents
)
SELECT split, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST((SUM(n_tokens) + {PACK_BUDGET - 1}) // {PACK_BUDGET}
            AS BIGINT) AS n_packs,
       CAST(bit_xor(fp) AS BIGINT) AS content_digest
FROM g
GROUP BY split, shard
ORDER BY split, shard
"""


def chunk_pack_batch(
    chunks: DataFrame, budget: int = PACK_BUDGET
) -> DataFrame:
    """The pack step of p17 over an already-sharded chunk frame
    (shard, doc_id, chunk_id, n_chunk_tokens): per-shard running token
    offsets in (doc_id, chunk_id) order, cut every ``budget`` tokens.
    Shared by the batch registry form and the streaming twin test so
    the two can't drift."""
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_chunk_tokens").over(w), F.lit(0)).cast(
        "long"
    )
    return (
        chunks.select(
            "shard",
            "doc_id",
            "chunk_id",
            "n_chunk_tokens",
            off.alias("stream_offset"),
        )
        .withColumn(
            "pack_id",
            F.floor(F.col("stream_offset") / budget).cast("long"),
        )
        .withColumn(
            "offset_in_pack", (F.col("stream_offset") % budget).cast("long")
        )
    )


def p17_chunk_pack(
    spark: SparkSession,
    sf_dir: str,
    budget: int = PACK_BUDGET,
    n_shards: int = P17_SHARDS,
) -> DataFrame:
    """Chunk→pack composition — the RAG/pretraining shard-writer shape
    (round-5 verdict item 5): t17's sliding-window passages (stateless
    projection+explode) laid end-to-end per shard and cut every
    PACK_BUDGET tokens, i.e. p03's packing applied to CHUNKS instead
    of documents. The streaming twin
    (`streaming.stateful.streaming_chunk_packer`) runs the identical
    chunk projection under readStream and keeps the per-shard offset
    in user state so pack positions are continuous across
    micro-batches — twin-tested equal to this batch form and
    replay-idempotent.

    Scale shape: chunking is row-local + one explode (t17); packing
    shuffles once on the shard key and runs a window per shard — the
    per-shard form deliberately avoids the global two-pass offsets
    because a shard writer wants one contiguous stream per output
    shard, not one global stream."""
    from kafka2clickhouse_py_streamer_spark.llm.text import (
        chunk_passages,
    )

    d = table(spark, sf_dir, "documents")
    chunks = chunk_passages(d).select(
        (F.col("doc_id") % n_shards).cast("long").alias("shard"),
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
    )
    return chunk_pack_batch(chunks, budget).orderBy(
        "shard", "doc_id", "chunk_id"
    )


def _p17_sql() -> str:
    from kafka2clickhouse_py_streamer_spark.llm.text import T17_SQL

    return f"""
WITH chunks AS ({T17_SQL.strip()}),
sharded AS (
  SELECT doc_id % {P17_SHARDS} AS shard, doc_id, chunk_id,
         n_chunk_tokens
  FROM chunks
),
offs AS (
  SELECT shard, doc_id, chunk_id, n_chunk_tokens,
         CAST(COALESCE(SUM(n_chunk_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id, chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS stream_offset
  FROM sharded
)
SELECT shard, doc_id, chunk_id, n_chunk_tokens, stream_offset,
       stream_offset // {PACK_BUDGET} AS pack_id,
       stream_offset % {PACK_BUDGET} AS offset_in_pack
FROM offs
ORDER BY shard, doc_id, chunk_id
"""


def p19_chunk_dedup_pack(
    spark: SparkSession,
    sf_dir: str,
    budget: int = PACK_BUDGET,
    n_shards: int = P17_SHARDS,
) -> DataFrame:
    """RAG index prep end to end — the third flagship composition
    (p07 cleans documents, p14 scrubs spans, p19 builds the retrieval
    shard): t17's sliding-window passages, EXACT chunk dedup
    keep-first on the content fingerprint (overlapping windows and
    boilerplate make duplicate chunks far more common than duplicate
    documents — an index that stores them returns the same passage
    k times), then per-shard packing of the SURVIVING chunks, with a
    per-chunk duplicate count carried so the index can weight
    retrieval frequency.

    Scale shape: chunking rides the scan (explode only); dedup is one
    hash-agg window on the 128-bit fingerprint (keep-first = min
    (doc_id, chunk_id), same policy as d01); packing shuffles once on
    the shard key. Composition adds NO shuffle class beyond its
    stages — chunk→dedup→pack is explode + fp-window + shard-window."""
    d = table(spark, sf_dir, "documents")
    return chunk_dedup_pack(d, budget, n_shards).orderBy(
        "shard", "doc_id", "chunk_id"
    )


def chunk_dedup_pack(
    d: DataFrame, budget: int = PACK_BUDGET, n_shards: int = P17_SHARDS
) -> DataFrame:
    """p19's composition over any (doc_id, text) frame — factored out
    so the batch registry form and the streaming foreachBatch twin
    (``streaming/corpus_stream.rag_ingest_batch``'s equality test)
    share one definition of chunk→dedup→pack and cannot drift."""
    from kafka2clickhouse_py_streamer_spark.llm.text import (
        chunk_passages,
    )

    chunks = chunk_passages(d)
    w = Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_id")
    kept = (
        chunks.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_copies",
            F.count(F.lit(1)).over(Window.partitionBy("chunk_fp")),
        )
        .filter(F.col("rn") == 1)
        .select(
            (F.col("doc_id") % n_shards).cast("long").alias("shard"),
            "doc_id",
            "chunk_id",
            "n_chunk_tokens",
            F.col("n_copies").cast("long").alias("n_copies"),
        )
    )
    packed = chunk_pack_batch(
        kept.select("shard", "doc_id", "chunk_id", "n_chunk_tokens"),
        budget,
    )
    return packed.join(
        kept.select("doc_id", "chunk_id", "n_copies"),
        ["doc_id", "chunk_id"],
    ).select(
        "shard",
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        "n_copies",
        "stream_offset",
        "pack_id",
        "offset_in_pack",
    )


def _p19_sql() -> str:
    from kafka2clickhouse_py_streamer_spark.llm.text import T17_SQL

    return f"""
WITH chunks AS ({T17_SQL.strip()}),
ranked AS (
  SELECT doc_id, chunk_id, n_chunk_tokens,
         ROW_NUMBER() OVER (PARTITION BY chunk_fp
                            ORDER BY doc_id, chunk_id) AS rn,
         COUNT(*) OVER (PARTITION BY chunk_fp) AS n_copies
  FROM chunks
),
kept AS (
  SELECT doc_id % {P17_SHARDS} AS shard, doc_id, chunk_id,
         n_chunk_tokens, CAST(n_copies AS BIGINT) AS n_copies
  FROM ranked WHERE rn = 1
),
offs AS (
  SELECT shard, doc_id, chunk_id, n_chunk_tokens, n_copies,
         CAST(COALESCE(SUM(n_chunk_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id, chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS stream_offset
  FROM kept
)
SELECT shard, doc_id, chunk_id, n_chunk_tokens, n_copies,
       stream_offset,
       stream_offset // {PACK_BUDGET} AS pack_id,
       stream_offset % {PACK_BUDGET} AS offset_in_pack
FROM offs
ORDER BY shard, doc_id, chunk_id
"""


EPOCH_BUDGET_FACTOR = 2  # total training budget = 2x the corpus tokens
MAX_EPOCHS = 4  # data-constrained repeat cap (Muennighoff et al. 2023)


def p20_epoch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained multi-epoch budgeting: distribute a training
    token budget (EPOCH_BUDGET_FACTOR × the corpus) across sources by
    p12's temperature weights, then cap each source at MAX_EPOCHS
    repeats — the 'repeating data beats nothing, but only ~4 times'
    regime. Per source: the temperature target, integer epochs needed,
    epochs actually usable under the cap, effective (deliverable)
    tokens, the unmet remainder, and each source's share of the final
    deliverable mix.

    Cross-engine determinism: the only floating math is p12's proven
    share^α weight; the target is floored to BIGINT on both engines
    (CAST(double AS BIGINT) truncates on Spark but ROUNDS on DuckDB —
    FLOOR first makes them agree), and everything downstream (ceil
    division via div[Spark]///[DuckDB], least, subtraction) is exact
    integer arithmetic.

    Scale shape: ONE hash agg collapses the corpus to |sources| rows —
    the corpus is scanned exactly once (pinned); both normalization
    totals are unpartitioned windows over that tiny aggregate (the
    deliberate SinglePartition is over ≤|sources| rows, never the fact
    table), mirroring the oracle's SUM() OVER () exactly. A
    broadcast-totals formulation would recompute the corpus agg once
    per consumer subtree — three scans instead of one."""
    d = table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(F.coalesce(_n_tokens(), F.lit(0))).alias("n_tokens"),
    )
    w_tiny = Window.partitionBy()
    with_tot = per_src.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_tokens").over(w_tiny).cast("long").alias("corpus_tokens"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), MIX_ALPHA))
        .over(w_tiny).alias("z"),
    )
    w_t = F.pow(F.col("n_tokens").cast("double"), MIX_ALPHA) / F.col("z")
    budget = (F.col("corpus_tokens") * EPOCH_BUDGET_FACTOR).cast("double")
    target = F.when(
        F.col("z") > 0, F.floor(w_t * budget).cast("long")
    ).otherwise(F.lit(0))
    enriched = (
        with_tot.select(
            "source",
            "n_tokens",
            target.alias("target_tokens"),
        )
        .select(
            "source",
            "n_tokens",
            "target_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.expr(
                    "(target_tokens + n_tokens - 1) div n_tokens"
                ),
            ).cast("long").alias("epochs_needed"),
            F.least(
                F.col("target_tokens"),
                F.col("n_tokens") * MAX_EPOCHS,
            ).cast("long").alias("effective_tokens"),
        )
        .select(
            "source",
            "n_tokens",
            "target_tokens",
            "epochs_needed",
            F.least(F.coalesce("epochs_needed", F.lit(0)), F.lit(MAX_EPOCHS))
            .cast("long").alias("epochs_used"),
            "effective_tokens",
            (F.col("target_tokens") - F.col("effective_tokens"))
            .cast("long").alias("unmet_tokens"),
        )
    )
    return (
        enriched.withColumn(
            "deliv_total",
            F.sum("effective_tokens").over(w_tiny).cast("double"),
        )
        .select(
            "source",
            "n_tokens",
            "target_tokens",
            "epochs_needed",
            "epochs_used",
            "effective_tokens",
            "unmet_tokens",
            F.when(
                F.col("deliv_total") > 0,
                F.round(F.col("effective_tokens") / F.col("deliv_total"), 6),
            ).alias("final_share"),
        )
        .orderBy("source")
    )


P20_SQL = rf"""
WITH per_src AS (
  SELECT source,
         SUM(COALESCE(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
             ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END, 0))
           AS n_tokens
  FROM documents
  GROUP BY source
),
totals AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens,
         SUM(POWER(CAST(n_tokens AS DOUBLE), {MIX_ALPHA})) AS z
  FROM per_src
),
enriched AS (
  SELECT source,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(CASE WHEN z > 0 THEN FLOOR(
             POWER(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) / z
             * CAST(corpus_tokens * {EPOCH_BUDGET_FACTOR} AS DOUBLE))
           ELSE 0 END AS BIGINT) AS target_tokens
  FROM per_src, totals
),
capped AS (
  SELECT source, n_tokens, target_tokens,
         CAST(CASE WHEN n_tokens > 0
              THEN (target_tokens + n_tokens - 1) // n_tokens
              END AS BIGINT) AS epochs_needed,
         CAST(LEAST(target_tokens, n_tokens * {MAX_EPOCHS}) AS BIGINT)
           AS effective_tokens
  FROM enriched
)
SELECT source, n_tokens, target_tokens, epochs_needed,
       CAST(LEAST(COALESCE(epochs_needed, 0), {MAX_EPOCHS}) AS BIGINT)
         AS epochs_used,
       effective_tokens,
       CAST(target_tokens - effective_tokens AS BIGINT) AS unmet_tokens,
       CASE WHEN SUM(effective_tokens) OVER () > 0
            THEN ROUND(CAST(effective_tokens AS DOUBLE)
                       / CAST(SUM(effective_tokens) OVER () AS DOUBLE), 6)
       END AS final_share
FROM capped
ORDER BY source
"""


def p21_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval split-leakage audit: for each held-out split of
    p01's hash split (val, test), how much of it shares word-3-shingle
    content with TRAIN — the eval-hygiene check that must pass before
    a held-out loss means anything. d09/d18 screen against an EXTERNAL
    benchmark; this audits the pipeline's own split boundary. Per
    split: total docs, docs with any capped shingle, docs sharing ≥1
    shingle with train (leaky), the leak rate over all docs, distinct
    shared shingles, and the mean per-doc overlap fraction.

    Scale shape: the d09 broadcast trick does NOT apply — train is not
    small — so this is the both-sides-large variant: one shuffle
    equi-join of eval shingles against the distinct train shingle set,
    keyed on the shingle. The d11 DF cap runs FIRST (the d17 lesson):
    boilerplate shingles match every doc on both sides of any split —
    they carry zero leakage signal and would make the train set's hot
    keys the shuffle bottleneck. Everything else is keyed hash aggs."""
    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        MAX_SHINGLE_DF,
        _shingle_rows,
    )

    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < TRAIN_END, F.lit("train"))
        .when(b < VAL_END, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    sh = _shingle_rows(spark, sf_dir)
    df_ok = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("s")
    )
    kept = sh.join(df_ok, "s", "left_semi").select(
        "doc_id", "s", split.alias("split")
    )
    # Round-13 re-measure: the d17-style capped-frame cut was tried
    # here and measured MUCH slower (A/B median 0.66 → 2.81 s at
    # sf0.1) — p21's two consumers are cheap filters over the frame
    # and the eager cut job serializes what the scheduler otherwise
    # overlaps. Reverted; only d17 keeps the cut.
    train_sh = (
        kept.filter(F.col("split") == "train").select("s").distinct()
    )
    ev = kept.filter(F.col("split") != "train")
    flagged = ev.join(
        train_sh.withColumn("hit", F.lit(1)), "s", "left"
    )
    per_doc = flagged.groupBy("split", "doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.count("hit").alias("n_hit"),
    )
    doc_stats = per_doc.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_shingled"),
        F.sum((F.col("n_hit") > 0).cast("long")).cast("long")
        .alias("n_leaky_docs"),
        F.round(
            F.avg(F.col("n_hit") / F.col("n_sh").cast("double")), 6
        ).alias("mean_doc_overlap"),
    )
    shared = (
        ev.join(train_sh, "s", "left_semi")
        .select("split", "s")
        .distinct()
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_shingles"))
    )
    totals = (
        table(spark, sf_dir, "documents")
        .select(split.alias("split"))
        .filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return (
        totals.join(doc_stats, "split", "left")
        .join(shared, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce("n_docs_shingled", F.lit(0)).cast("long")
            .alias("n_docs_shingled"),
            F.coalesce("n_leaky_docs", F.lit(0)).cast("long")
            .alias("n_leaky_docs"),
            F.round(
                F.coalesce("n_leaky_docs", F.lit(0))
                / F.col("n_docs").cast("double"),
                6,
            ).alias("leak_rate"),
            F.coalesce("n_shared_shingles", F.lit(0)).cast("long")
            .alias("n_shared_shingles"),
            "mean_doc_overlap",
        )
        .orderBy("split")
    )


def _p21_sql() -> str:
    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        MAX_SHINGLE_DF,
        _DUCK_SHINGLES_CTE,
    )

    split_case = (
        f"CASE WHEN {_bucket_sql('doc_id')} < {TRAIN_END} THEN 'train'"
        f" WHEN {_bucket_sql('doc_id')} < {VAL_END} THEN 'val'"
        f" ELSE 'test' END"
    )
    return f"""
WITH {_DUCK_SHINGLES_CTE},
kept AS (
  SELECT sh.doc_id, sh.s, {split_case.replace("doc_id", "sh.doc_id")} AS split
  FROM shingles sh
  JOIN (SELECT s FROM shingles GROUP BY s
        HAVING COUNT(*) <= {MAX_SHINGLE_DF}) ok USING (s)
),
train_sh AS (
  SELECT DISTINCT s FROM kept WHERE split = 'train'
),
ev AS (
  SELECT * FROM kept WHERE split <> 'train'
),
per_doc AS (
  SELECT e.split, e.doc_id,
         COUNT(*) AS n_sh,
         COUNT(t.s) AS n_hit
  FROM ev e LEFT JOIN train_sh t ON t.s = e.s
  GROUP BY e.split, e.doc_id
),
doc_stats AS (
  SELECT split,
         CAST(COUNT(*) AS BIGINT) AS n_docs_shingled,
         CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaky_docs,
         ROUND(AVG(n_hit / CAST(n_sh AS DOUBLE)), 6)
           AS mean_doc_overlap
  FROM per_doc GROUP BY split
),
shared AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
  FROM (
    SELECT DISTINCT e.split, e.s
    FROM ev e JOIN train_sh t ON t.s = e.s
  ) GROUP BY split
),
totals AS (
  SELECT {split_case} AS split, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents
  WHERE {split_case} <> 'train'
  GROUP BY 1
)
SELECT t.split, t.n_docs,
       CAST(COALESCE(d.n_docs_shingled, 0) AS BIGINT) AS n_docs_shingled,
       CAST(COALESCE(d.n_leaky_docs, 0) AS BIGINT) AS n_leaky_docs,
       ROUND(COALESCE(d.n_leaky_docs, 0)
             / CAST(t.n_docs AS DOUBLE), 6) AS leak_rate,
       CAST(COALESCE(s.n_shared_shingles, 0) AS BIGINT)
         AS n_shared_shingles,
       d.mean_doc_overlap
FROM totals t
LEFT JOIN doc_stats d ON d.split = t.split
LEFT JOIN shared s ON s.split = t.split
ORDER BY t.split
"""


P22_BATCH = 8  # sequences per padded micro-batch for p22


def p22_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit across the three ways a trainer can batch a
    corpus — the capacity-planning number behind the choice p03 makes:

    - ``arrival``: fixed-size batches of P22_BATCH docs in corpus
      order, each sequence padded to the batch max (the naive
      DataLoader); docs longer than PACK_BUDGET are truncated.
    - ``sorted``: the same batching after a global length sort
      (length-bucketed batching — batch members have near-equal
      lengths, so padding collapses).
    - ``packed``: p03's concat-and-chunk — zero padding by
      construction except the tail pack, zero truncation.

    Per strategy: batches, cost (padded tokens actually pushed through
    the forward pass), delivered real tokens, padded + truncated
    tokens, and the waste fraction of compute. Null text counts as an
    empty (0-token) sequence — the pinned sampling null ≡ empty
    contract.

    Scale shape: the two batch strategies need a global row index in
    their respective orders — the same two-pass offsets as p03/p04
    (range shuffle → |partitions|-row collect → broadcast), never a
    single-partition window; batch stats are one hash agg on batch_id
    (~N/B groups) and the per-strategy fold is a 3-scalar reduction.
    ``packed`` needs no offsets at all: its cost is derivable from the
    global token total (ceil-div), one scalar agg over the scan."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.coalesce(_n_tokens(), F.lit(0)).alias("raw_tokens"),
    ).withColumn(
        "seq_len",
        F.least(F.col("raw_tokens"), F.lit(PACK_BUDGET).cast("long")),
    )

    def batched(order_cols: list[str], label: str) -> DataFrame:
        idx = _two_pass_offsets(
            base.withColumn("one", F.lit(1).cast("long")),
            [], val_col="one", order_col=order_cols,
        )
        per_batch = (
            idx.withColumn(
                "batch_id", F.expr(f"stream_offset div {P22_BATCH}")
            )
            .groupBy("batch_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_seq"),
                F.max("seq_len").alias("mx"),
                F.sum("seq_len").alias("del_"),
                F.sum("raw_tokens").alias("raw_"),
            )
        )
        return per_batch.agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum(F.col("n_seq") * F.col("mx")).cast("long")
            .alias("cost_tokens"),
            F.sum("del_").cast("long").alias("delivered_tokens"),
            F.sum("raw_").cast("long").alias("raw_total"),
        ).select(F.lit(label).alias("strategy"), "*")

    packed = base.agg(
        F.coalesce(F.sum("raw_tokens"), F.lit(0)).cast("long")
        .alias("total")
    ).select(
        F.lit("packed").alias("strategy"),
        F.expr(f"(total + {PACK_BUDGET - 1}) div {PACK_BUDGET}")
        .cast("long").alias("n_batches"),
        (
            F.expr(f"(total + {PACK_BUDGET - 1}) div {PACK_BUDGET}")
            * PACK_BUDGET
        ).cast("long").alias("cost_tokens"),
        F.col("total").alias("delivered_tokens"),
        F.col("total").alias("raw_total"),
    )
    audit = (
        batched(["doc_id"], "arrival")
        .unionByName(batched(["seq_len", "doc_id"], "sorted"))
        .unionByName(packed)
    )
    return audit.select(
        "strategy",
        "n_batches",
        "cost_tokens",
        "delivered_tokens",
        (F.col("cost_tokens") - F.col("delivered_tokens")).cast("long")
        .alias("padded_tokens"),
        (F.col("raw_total") - F.col("delivered_tokens")).cast("long")
        .alias("trunc_tokens"),
        F.when(
            F.col("cost_tokens") > 0,
            F.round(
                (F.col("cost_tokens") - F.col("delivered_tokens"))
                / F.col("cost_tokens").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("waste_frac"),
    ).orderBy("strategy")


P22_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         COALESCE(CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                   ELSE LEN(regexp_split_to_array(TRIM(text), '\s+'))
              END AS BIGINT), 0) AS raw_tokens
  FROM documents
),
base AS (
  SELECT doc_id, raw_tokens,
         LEAST(raw_tokens, {PACK_BUDGET}) AS seq_len
  FROM toks
),
arr AS (
  SELECT *, (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // {P22_BATCH}
            AS batch_id
  FROM base
),
srt AS (
  SELECT *, (ROW_NUMBER() OVER (ORDER BY seq_len, doc_id) - 1)
            // {P22_BATCH} AS batch_id
  FROM base
),
arr_b AS (
  SELECT batch_id, COUNT(*) AS n_seq, MAX(seq_len) AS mx,
         SUM(seq_len) AS del_, SUM(raw_tokens) AS raw_
  FROM arr GROUP BY batch_id
),
srt_b AS (
  SELECT batch_id, COUNT(*) AS n_seq, MAX(seq_len) AS mx,
         SUM(seq_len) AS del_, SUM(raw_tokens) AS raw_
  FROM srt GROUP BY batch_id
),
folded AS (
  SELECT 'arrival' AS strategy,
         CAST(COUNT(*) AS BIGINT) AS n_batches,
         CAST(SUM(n_seq * mx) AS BIGINT) AS cost_tokens,
         CAST(SUM(del_) AS BIGINT) AS delivered_tokens,
         CAST(SUM(raw_) AS BIGINT) AS raw_total
  FROM arr_b
  UNION ALL
  SELECT 'sorted',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_seq * mx) AS BIGINT),
         CAST(SUM(del_) AS BIGINT),
         CAST(SUM(raw_) AS BIGINT)
  FROM srt_b
  UNION ALL
  SELECT 'packed',
         CAST((t.total + {PACK_BUDGET - 1}) // {PACK_BUDGET} AS BIGINT),
         CAST(((t.total + {PACK_BUDGET - 1}) // {PACK_BUDGET})
              * {PACK_BUDGET} AS BIGINT),
         CAST(t.total AS BIGINT),
         CAST(t.total AS BIGINT)
  FROM (SELECT COALESCE(SUM(raw_tokens), 0) AS total FROM base) t
)
SELECT strategy, n_batches, cost_tokens, delivered_tokens,
       CAST(cost_tokens - delivered_tokens AS BIGINT) AS padded_tokens,
       CAST(raw_total - delivered_tokens AS BIGINT) AS trunc_tokens,
       CASE WHEN cost_tokens > 0
            THEN ROUND((cost_tokens - delivered_tokens)
                       / CAST(cost_tokens AS DOUBLE), 6)
            ELSE 0.0 END AS waste_frac
FROM folded
ORDER BY strategy
"""


# --- p24: shard-balance audit -------------------------------------------

N_BAL_SHARDS = 8


def p24_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment balance audit: the same corpus sharded two
    ways — ``hash_mod`` (doc_id % N, the naive key sharding every
    pipeline starts with) vs ``sorted_rr`` (round-robin over the
    token-count-DESC order — the declarative approximation of greedy
    LPT scheduling) — reported per (strategy, shard) as doc count,
    token mass, and ``load_ratio`` = shard tokens / perfectly-balanced
    share. The per-strategy MAX load_ratio is the makespan read: how
    much longer the hottest shard's worker runs than the ideal. This
    is the capacity-planning number behind writer parallelism, the
    same family as p22 (padding) and d22 (dedup ROI).

    Scale shape: hash_mod is a pure projection; sorted_rr's global
    rank is the two-pass offsets (range shuffle on the sort key →
    |partitions|-row driver collect → broadcast prefixes — never a
    SinglePartition window); one hash agg per strategy on the
    (strategy, shard) key; the corpus total joins back as a one-row
    broadcast. Zero-token docs still need a shard — they are real
    rows — they just contribute no mass."""
    from kafka2clickhouse_py_streamer_spark.llm.dedup import _ntok_col

    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", _ntok_col().alias("w")
    ).withColumn("one", F.lit(1))
    hash_mod = base.select(
        F.lit("hash_mod").alias("strategy"),
        (F.col("doc_id") % N_BAL_SHARDS).cast("long").alias("shard"),
        "w",
    )
    ranked = _two_pass_offsets(
        base.withColumn("negw", -F.col("w")),
        [],
        val_col="one",
        order_col=["negw", "doc_id"],
    )
    sorted_rr = ranked.select(
        F.lit("sorted_rr").alias("strategy"),
        (F.col("stream_offset") % N_BAL_SHARDS).cast("long").alias("shard"),
        "w",
    )
    total = base.agg(F.sum("w").cast("double").alias("total_w"))
    return (
        hash_mod.unionByName(sorted_rr)
        .groupBy("strategy", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("tokens"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "strategy",
            "shard",
            "n_docs",
            "tokens",
            F.round(
                F.col("tokens") * N_BAL_SHARDS / F.col("total_w"), 6
            ).alias("load_ratio"),
        )
        .orderBy("strategy", "shard")
    )


def _p24_sql() -> str:
    from kafka2clickhouse_py_streamer_spark.llm.dedup import _NTOK_SQL

    ntok = _NTOK_SQL.format(t="text")
    return f"""
WITH base AS (
  SELECT doc_id, {ntok} AS w FROM documents
),
hash_mod AS (
  SELECT 'hash_mod' AS strategy,
         CAST(doc_id % {N_BAL_SHARDS} AS BIGINT) AS shard, w
  FROM base
),
sorted_rr AS (
  SELECT 'sorted_rr' AS strategy,
         CAST((ROW_NUMBER() OVER (ORDER BY w DESC, doc_id) - 1)
              % {N_BAL_SHARDS} AS BIGINT) AS shard, w
  FROM base
),
both_s AS (
  SELECT * FROM hash_mod UNION ALL SELECT * FROM sorted_rr
),
agg AS (
  SELECT strategy, shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS tokens
  FROM both_s GROUP BY strategy, shard
)
SELECT strategy, shard, n_docs, tokens,
       ROUND(tokens * {N_BAL_SHARDS}
             / (SELECT CAST(SUM(w) AS DOUBLE) FROM base), 6)
         AS load_ratio
FROM agg
ORDER BY strategy, shard
"""


# --- p23: weighted sampling without replacement ------------------------

WEIGHTED_SAMPLES = 20  # k
_U_BITS = 52  # md5-derived uniform resolution (fits a double exactly)
_U_DENOM = float(1 << _U_BITS)


def p23_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES): each document draws a deterministic uniform u from
    md5(doc_id) and competes with key ln(u)/w (equivalent to the
    classic u^(1/w) — monotone transform); the k LARGEST keys are the
    sample, giving inclusion probabilities proportional to weight
    without replacement. Weight = whitespace token count (token-mass-
    proportional corpus subsampling); zero-token docs carry no mass
    and cannot be drawn.

    Determinism/parity: u is integer md5 arithmetic (52-bit prefix —
    exact in a double), identical on both engines; the only FP seam is
    ln(), absorbed by the 1e-9 quantization both sides apply before
    ranking (ties broken by doc_id, so selection is total-ordered).

    Scale shape: one scan projects (w, u, key); the top-k is
    TakeOrderedAndProject (per-partition heaps + k-row driver merge —
    never a global sort); rank is a window over the k-row result. The
    p13 contrast: p13 is SYSTEMATIC PPS (fixed slots on a weight
    line, needs global offsets); A-ES is one scan + top-k and extends
    to streams (keys are order-independent), the reservoir form."""
    from kafka2clickhouse_py_streamer_spark.llm.dedup import _ntok_col

    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source", _ntok_col().alias("weight")
    ).filter(F.col("weight") > 0)
    v = F.conv(
        F.substring(
            F.md5(F.coalesce(F.col("doc_id").cast("string"), F.lit(""))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    # +0.5 keeps u in (0,1): u=0 would send ln(u) to -Infinity
    u = (v.cast("double") + F.lit(0.5)) / F.lit(_U_DENOM)
    key = F.log(u) / F.col("weight").cast("double")
    keyed = base.withColumn(
        "samp_key", F.floor(key * 1e9 + F.lit(0.5)) / 1e9
    )
    topk = keyed.orderBy(
        F.col("samp_key").desc(), F.col("doc_id").asc()
    ).limit(WEIGHTED_SAMPLES)
    w = Window.orderBy(F.col("samp_key").desc(), F.col("doc_id").asc())
    return topk.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "source",
        "weight",
        F.round("samp_key", 9).alias("samp_key"),
    ).orderBy("rank")


def _p23_sql() -> str:
    from kafka2clickhouse_py_streamer_spark.llm.dedup import _NTOK_SQL

    ntok = _NTOK_SQL.format(t="text")
    return f"""
WITH base AS (
  SELECT doc_id, source, {ntok} AS weight,
         CAST('0x' || SUBSTRING(
             md5(COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 13)
           AS BIGINT) AS v
  FROM documents
),
keyed AS (
  SELECT doc_id, source, weight,
         FLOOR(LN((CAST(v AS DOUBLE) + 0.5)
                  / CAST({1 << _U_BITS} AS DOUBLE))
               / CAST(weight AS DOUBLE) * 1e9 + 0.5) / 1e9 AS samp_key
  FROM base WHERE weight > 0
),
topk AS (
  SELECT * FROM keyed
  ORDER BY samp_key DESC, doc_id ASC
  LIMIT {WEIGHTED_SAMPLES}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY samp_key DESC, doc_id ASC)
            AS BIGINT) AS rank,
       doc_id, source, weight, ROUND(samp_key, 9) AS samp_key
FROM topk
ORDER BY rank
"""


QUERIES = [
    Query("p01_train_test_split", p01_train_test_split, P01_SQL,
          "hash-deterministic train/val/test split"),
    Query("p02_stratified_sample", p02_stratified_sample, _p02_sql(),
          "deterministic stratified sampling (sampleBy twin)"),
    Query("p03_sequence_packing", p03_sequence_packing, P03_SQL,
          "token-budget sequence packing (concat-and-chunk)"),
    Query("p04_global_shuffle", p04_global_shuffle, P04_SQL,
          "deterministic hash-ordered global corpus shuffle"),
    Query("p05_clean_corpus", p05_clean_corpus, P05_SQL,
          "composed quality→dedup→split corpus clean (one exchange)"),
    Query("p06_domain_mix", p06_domain_mix, P06_SQL,
          "domain-balanced mixing: deterministic per-source cap"),
    Query("p07_corpus_pipeline", p07_corpus_pipeline, _p07_sql(),
          "flagship composed corpus prep: quality, dedup, decontam, "
          "mix, split, pack"),
    Query("p08_flatten_mix", p08_flatten_mix, P08_SQL,
          "probabilistic domain flattening (hash-threshold, no window)"),
    Query("p09_incremental_refresh", p09_incremental_refresh, P09_SQL,
          "incremental batch admission: within-batch dedup + "
          "fingerprint anti-join against the existing corpus"),
    Query("p10_budget_select", p10_budget_select, P10_SQL,
          "token-budget data selection: admit best-quality docs until "
          "the global token budget is exhausted"),
    Query("p11_curriculum_stages", p11_curriculum_stages, P11_SQL,
          "curriculum staging: easy->hard order cut into equal-token "
          "stages via two-pass offsets"),
    Query("p12_temperature_mix", p12_temperature_mix, P12_SQL,
          "temperature-scaled domain mixture weights (share^alpha, "
          "target tokens + epoch factors)"),
    Query("p13_pps_sample", p13_pps_sample, P13_SQL,
          "PPS systematic sampling (integer weight-line crossings, "
          "two-pass offsets)"),
    Query("p14_span_scrub_pipeline", p14_span_scrub_pipeline,
          _p14_sql(),
          "exact-substring dedup end to end: span detect -> excise -> "
          "drop-empty -> split -> repack in one DAG"),
    Query("p15_dedup_rebalance", p15_dedup_rebalance, _p15_sql(),
          "mixture correction after dedup: per-source temperature "
          "weights before vs after exact dedup, with deltas"),
    Query("p16_pack_efficiency", p16_pack_efficiency, _p16_sql(),
          "packing-efficiency audit: per-pack fill ratio, straddle "
          "carry-in, and started-doc counts over p03's packs"),
    Query("p17_chunk_pack", p17_chunk_pack, _p17_sql(),
          "chunk->pack composition: t17 passages packed per shard "
          "(streaming twin keeps offsets continuous across "
          "micro-batches)"),
    Query("p18_shard_manifest", p18_shard_manifest, P18_SQL,
          "shard manifest: per (split, shard) doc/token/pack counts + "
          "order-insensitive bit_xor content digest"),
    Query("p19_chunk_dedup_pack", p19_chunk_dedup_pack, _p19_sql(),
          "RAG index prep: chunk -> exact chunk dedup keep-first "
          "(duplicate count carried) -> per-shard packing"),
    Query("p20_epoch_budget", p20_epoch_budget, P20_SQL,
          "data-constrained multi-epoch budgeting: temperature "
          "targets, integer epoch caps, deliverable mix shares"),
    Query("p21_split_leakage", p21_split_leakage, _p21_sql(),
          "train->eval split-leakage audit: DF-capped shingle overlap "
          "across p01's split boundary (both-sides-large equi-join)"),
    Query("p22_padding_waste", p22_padding_waste, P22_SQL,
          "padding-waste audit: naive vs length-sorted padded "
          "batching vs packing — cost/padded/truncated tokens per "
          "strategy"),
    Query("p23_weighted_sample", p23_weighted_sample, _p23_sql(),
          "weighted sampling without replacement (Efraimidis-"
          "Spirakis): md5-uniform keys ln(u)/w, token-mass weights, "
          "top-k = the sample"),
    Query("p24_shard_balance", p24_shard_balance, _p24_sql(),
          "shard-balance audit: hash-mod vs size-sorted round-robin "
          "(greedy-LPT approx) — per-shard doc/token load and the "
          "max load_ratio makespan read"),
]

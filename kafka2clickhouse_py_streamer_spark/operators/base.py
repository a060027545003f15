"""Shared plumbing for the query registry.

Oracle-parity rules (every query in the registry follows these):

- Alias every computed column identically in Spark and SQL (the driver
  sorts columns by name before hashing values).
- Computed integers are cast to BIGINT on both sides (Spark's
  ``row_number``/``month`` return INT, DuckDB's return BIGINT; DuckDB's
  ``SUM(int)`` returns HUGEINT — normalize everything to long).
- Floating aggregates are ``round()``-ed to a fixed scale on both sides
  (summation order differs between engines; rounding absorbs the ulp-level
  drift).
- Timestamp semantics pinned to UTC (session conf) so Spark and DuckDB
  (UTC-naive) agree.
- Every query orders deterministically or is order-insensitive (the
  driver's compare sorts rows anyway; determinism matters for ``LIMIT``).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Query:
    """One verifiable operator: Spark program + optional DuckDB oracle."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


# events.ts has shipped as parquet timestamp[ns] (Spark reads it as long
# under the legacy conf) and as timestamp[us] (Spark 4 reads it as
# TIMESTAMP_NTZ). Normalize BOTH to a plain session-TZ TIMESTAMP here,
# once, so every downstream query can use unix_micros/double casts
# without caring which fixture vintage it got. Session TZ is pinned UTC
# below, so NTZ -> TIMESTAMP is a pure relabel (no wall-clock shift) and
# matches the UTC-naive DuckDB oracle exactly.


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The harness may hand us a session we didn't build: pin UTC at
    # read time so timestamp rendering matches the UTC-naive oracle
    # regardless of the host session's timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        # ts needs the bigint-nanos special case; any OTHER temporal
        # column still goes through the generic sweep below
        df = normalize_event_time(df)
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # Same NTZ seam as events.ts, any table: orders.o_orderdate is also
    # parquet timestamp[us] now. Relabel every NTZ column to session-TZ
    # TIMESTAMP (UTC pinned above — no wall-clock shift) so no query
    # ever meets TIMESTAMP_NTZ, whatever the fixture vintage.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Coerce an event-time column to plain TIMESTAMP (UTC session TZ).

    Handles every fixture vintage: bigint nanos (legacy nanosAsLong
    read), TIMESTAMP_NTZ (Spark 4's reading of parquet timestamp[us]),
    and already-TIMESTAMP (no-op). Works on batch and streaming
    DataFrames alike — it is a pure projection.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow scan up to the session's parallelism.

    Single-file parquet tables (documents/embeddings/events fixtures)
    arrive as ONE partition, serializing every CPU-heavy downstream
    operator (tokenize/shingle/hash/vector math) onto one core. A
    round-robin repartition costs one shuffle of the raw rows — trivial
    next to the per-row compute it parallelizes 32×. At 100 TB inputs
    arrive in thousands of splits and this is a no-op (we only widen,
    never coalesce).

    The width probe uses ``inputFiles()`` (driver-side file listing),
    not ``df.rdd.getNumPartitions()`` — the RDD conversion forces a
    full physical re-plan per call. One file may still split into many
    tasks (maxPartitionBytes), so few-files is a conservative proxy:
    we only skip the shuffle when the scan already has at least as
    many files as cores.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    if n_files == 0:
        # Not file-backed (or the probe failed) — e.g. a frame already
        # downstream of a shuffle. Fall back to the RDD partition count
        # (forces a physical plan, so only on this cold path) instead of
        # unconditionally paying an extra exchange on an already-wide
        # frame.
        try:
            if df.rdd.getNumPartitions() >= target:
                return df
        except Exception:
            pass
    return df.repartition(target)


# Verification priority: the driver walks ``queries()`` in dict order and
# records rows for roughly the first 50 entries per round. This list is
# GENERATED — run ``python tools/rotate_verify_first.py --write`` after
# each round. Ordering: never-green/errored first, then greens whose
# defining file churned since the green was recorded (oldest round
# first), then the rest oldest-evidence-first. ``tests/test_rotation.py``
# asserts the committed list matches the tool and that no query's
# evidence can age out of the driver window unseen.
_VERIFY_FIRST = [
    # green-r11 but file churned since
    "d06_simhash_pairs",
    "m06_multimodal_packing",
    "w05_attribution",
    "w06_window_distinct",
    "p14_span_scrub_pipeline",
    "p15_dedup_rebalance",
    "p16_pack_efficiency",
    "q44_frame_navigation",
    "q52_interval_frame",
    "q31_moment_stats",
    "q32_exact_percentiles",
    "q33_argmin_argmax",
    "q34_filtered_agg",
    "q35_in_subquery",
    "q11_sort_limit",
    "q15_set_ops",
    "q16_string_fns",
    "q17_date_fns",
    "q18_json_fns",
    "q19_array_fns",
    "q20_conditional",
    "q22_pivot",
    "q30_unpivot",
    "q39_math_fns",
    "q40_full_outer",
    "q42_posexplode",
    "q43_ratio_to_report",
    "q45_calendar_arithmetic",
    "q46_string_agg",
    "q50_range_join",
    "q02_region_revenue",
    "q03_top_orders",
    "q04_semi_join",
    "q05_anti_join",
    "q07_left_join_count",
    "q21_correlated_subquery",
    "q25_theta_join",
    "q26_asof_join",
    "q47_exists_pair",
    # green-r12 but file churned since
    "d17_containment_pairs",
    "d18_bloom_decontamination",
    "d19_containment_calibration",
    "d07_dedup_clusters",
    "d08_canonical_corpus",
    "d09_contamination",
    "s12_product_quantize",
    "s13_pq_adc_topk",
    "s14_ivfpq_search",
    "s15_mrl_truncation_recall",
    "s16_rrf_fusion",
    "s17_probe_recall_sweep",
    "s18_knn_label_eval",
    "s01_cosine_topk",
    "s02_lsh_buckets",
    "s03_lsh_topk",
    "s04_ivf_topk",
    "s05_trained_ivf",
    "s06_quantize",
    "s07_knn_label",
    "s19_cascade_rerank",
    "t11_readability",
    "t12_lexical_diversity",
    "w07_window_topk",
    "w08_disorder_profile",
    "t13_zipf_fit",
    "w09_gap_fill",
    "w10_rate_anomaly",
    "t14_bigram_logprob",
    "w11_rollup_cascade",
    "m07_phash_neardup",
    "m01_media_metadata",
    "m02_decode_stats",
    "m08_media_canonical",
    "q54_histogram",
    "q55_robust_outliers",
    "q57_cohort_retention",
    "q60_linear_trend",
    "q36_range_frame",
    "q37_ntile_cume",
    "q51_skew_profile",
    "q38_collect_agg",
    "q62_lateral_topn",
    "q48_salted_join",
    "q49_upsert_merge",
    "q53_funnel",
    "q56_mom_growth",
    "q58_scd2_intervals",
    "q59_concurrency",
    "q61_gaps_islands",
    # green-r13 but file churned since
    "s20_index_staleness",
    "s21_filtered_search",
    "s22_khop_expansion",
    "s23_mips_norm_pruned",
    "s24_triangle_count",
    "s25_radius_search",
    "p01_train_test_split",
    "p02_stratified_sample",
    "p04_global_shuffle",
    "p05_clean_corpus",
    "p06_domain_mix",
    "p07_corpus_pipeline",
    "p17_chunk_pack",
    "p18_shard_manifest",
    "p19_chunk_dedup_pack",
    "p20_epoch_budget",
    "p21_split_leakage",
    "p22_padding_waste",
    "p23_weighted_sample",
    "p24_shard_balance",
    "m03_frame_sample",
    "m04_feature_extract",
    "m05_media_dedup",
    "d20_snapshot_diff",
    "d21_softdedup_weights",
    "d22_dedup_roi",
    "d23_removal_propagation",
    "d24_editdist_neardup",
    "d25_lsh_layout_tuner",
    "d10_minhash_calibration",
    "d11_ngram_jaccard_capped",
    "t15_perplexity_buckets",
    "t16_bm25_topk",
    "t17_chunk_passages",
    "t18_ngram_novelty",
    "t01_token_count",
    "t02_quality_score",
    "t03_langid",
    "t04_fingerprint",
    "t05_rolling_hash",
    "t06_repetition",
    "t07_vocab_idf",
    "t08_unigram_logprob",
    "t09_pii_scrub",
    "w12_countmin_heavyhitters",
    "w01_tumbling",
    "w02_sliding",
    "w03_session_window",
    "w04_enriched_windows",
    "q63_forward_asof",
    # green-r14 but file churned since
    "d12_span_dedup",
    "d13_quality_canonical",
    "d14_lsh_admission",
    "s08_ann_recall",
    "s09_knn_graph",
    "s10_pagerank",
    "d15_semdedup",
    "s11_cluster_quality",
    "d16_span_scrub",
    "d01_exact_dedup",
    "d02_ngram_jaccard",
    "d03_minhash_lsh",
    "d04_simhash",
    "d05_embedding_neardup",
    "p03_sequence_packing",
    "p08_flatten_mix",
    "p09_incremental_refresh",
    "p10_budget_select",
    "p11_curriculum_stages",
    "p12_temperature_mix",
    "p13_pps_sample",
    "w13_histogram_quantiles",
    "t19_heaps_fit",
    "t20_gopher_funnel",
    "w14_decayed_rate",
    "w15_hll_distinct",
    "t21_tfidf_keywords",
    "t22_langid_eval",
    "t23_pmi_collocations",
    "w16_profile_sketch",
    "t10_char_entropy",
    "q01_pricing_summary",
    "q06_revenue_filter",
    "q12_distinct_agg",
    "q13_rollup",
    "q41_map_fns",
    "q64_weighted_quantiles",
    "q65_running_distinct",
    "q66_table_profile",
    "q67_sequence_match",
    "q68_interval_coverage",
    "q27_approx_stats",
    "q14_cube",
    "q23_grouping_sets",
    "q24_having",
    "q28_sessionization",
    "q08_topk_per_group",
    "q09_running_sum",
    "q10_lag_lead",
    "q29_keep_first",
]


def all_queries() -> dict[str, Query]:
    """Merge every operator module's registry. Import here (not at module
    top) so a bug in one module doesn't take down the whole registry at
    import time of the package."""
    from kafka2clickhouse_py_streamer_spark.operators import (
        aggregates,
        joins,
        scalar_fns,
        statistics,
        windows,
    )
    from kafka2clickhouse_py_streamer_spark.llm import (
        dedup,
        multimodal,
        sampling,
        similarity,
        text,
    )
    from kafka2clickhouse_py_streamer_spark.streaming import batch_windows

    merged: dict[str, Query] = {}
    for mod in (aggregates, joins, windows, scalar_fns, statistics,
                dedup, similarity, text, multimodal, sampling,
                batch_windows):
        for q in mod.QUERIES:
            if q.name in merged:
                raise ValueError(f"duplicate query name: {q.name}")
            merged[q.name] = q
    ordered: dict[str, Query] = {}
    for name in _VERIFY_FIRST:
        if name in merged:
            ordered[name] = merged.pop(name)
    ordered.update(merged)
    return ordered

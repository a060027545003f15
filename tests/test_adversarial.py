"""Adversarial differential sweeps: operators run on HOSTILE fixtures
— and must still agree with their DuckDB oracle exactly.

- documents: null text, empty/whitespace-only docs, single tokens,
  astral-plane unicode (emoji), 50× repeated words, a 1000-token doc,
  punctuation-only and numeral-only text.
- events: null user_id / event_type / value / ts, malformed and nested
  JSON props, ±1e15 values, NaN/Inf values, duplicate rows, an
  exact-30-min session gap (the session_window merge boundary).
- embeddings: NULL vector, empty vector, all-zero vector (zero norm),
  wrong-dimension vector, all-NaN / single-NaN / single-Inf vectors
  (non-finite norms crashed the Lloyd trainer before the finite gate),
  null label.

These sweeps exist because they caught real bugs the friendly driver
fixtures cannot: d04's token hash overflowed INT32 on emoji code
points on BOTH engines (now BIGINT); the shingle family silently
disagreed on null text (pinned to null ≡ empty); p11's null order key
hit the engines' opposite NULLS FIRST/LAST window defaults; Spark's
session_window MERGES an exactly-gap-distant event while a ``>= gap``
oracle splits it (w03's oracle now uses strict ``>``); q19's
element_at and every cosine threw on empty/zero vectors (ANSI) — the
vector family now shares a ``valid_embeddings`` admission gate; q51's
oracle dropped the NULL key group from COUNT(DISTINCT); q18/q41's
oracles threw on malformed JSON where Spark yields NULL.

Contracts, per family: dedup/sampling treat null text as empty (their
outputs feed joins/order keys); text stats propagate null (both
engines agree natively); time-window ops EXCLUDE null-timestamp events
(an event with no event-time can never pass a watermark); vector ops
exclude null/mis-dimensioned/zero-norm embeddings (cosine undefined);
navigation windows pin null placement explicitly.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.oracle_harness import KNOWN_VACUOUS, compare, duckdb_conn

SRC = "/root/testdata/sf0.001"

ADV_ROWS = [
    (1, None, "en", "web"),
    (2, "", "en", "web"),
    (3, "   ", "en", "web"),
    (4, "solo", "en", "books"),
    (5, "two words", "en", "books"),
    (6, "café naïve 日本語 emoji \U0001f389 test",
     "ja", "web"),
    (7, " ".join(["spam"] * 50), "en", "spamsrc"),
    (8, " ".join(f"w{i % 17}" for i in range(1000)), "en", "web"),
    (9, "!!! ??? ... ,,, ;;; :::", "en", "web"),
    (10, "123 456 789 0 42", "en", "web"),
] + [
    (10 + i, f"the quick brown fox number {i} jumps over the lazy dog",
     "en", "web")
    for i in range(1, 11)
]

# documents-reading operators; d05/m*/s* read embeddings or media,
# q*/w* read the TPC-H/events tables — out of scope here
SWEEP = [
    "d01_exact_dedup", "d02_ngram_jaccard", "d03_minhash_lsh",
    "d04_simhash", "d06_simhash_pairs", "d07_dedup_clusters",
    "d08_canonical_corpus", "d09_contamination",
    "d10_minhash_calibration", "d11_ngram_jaccard_capped",
    "d12_span_dedup", "d13_quality_canonical", "d14_lsh_admission",
    "d19_containment_calibration",
    "d16_span_scrub",
    "t01_token_count", "t02_quality_score", "t03_langid",
    "t04_fingerprint", "t05_rolling_hash", "t06_repetition",
    "t07_vocab_idf", "t08_unigram_logprob", "t09_pii_scrub",
    "t10_char_entropy", "t11_readability", "t12_lexical_diversity",
    "p01_train_test_split", "p02_stratified_sample",
    "p03_sequence_packing", "p04_global_shuffle", "p05_clean_corpus",
    "p06_domain_mix", "p07_corpus_pipeline", "p08_flatten_mix",
    "p09_incremental_refresh", "p10_budget_select",
    "p11_curriculum_stages", "p12_temperature_mix", "p13_pps_sample",
    "p14_span_scrub_pipeline", "p15_dedup_rebalance",
    "p16_pack_efficiency",
    "p17_chunk_pack",
    "p18_shard_manifest",
    "p19_chunk_dedup_pack",
    "p20_epoch_budget",
    "p21_split_leakage",
    "p22_padding_waste",
    "t19_heaps_fit",
    "t20_gopher_funnel",
    "t13_zipf_fit", "t14_bigram_logprob", "t15_perplexity_buckets",
    "t16_bm25_topk", "t17_chunk_passages", "t18_ngram_novelty",
    "t21_tfidf_keywords",
    "t22_langid_eval",
    "t23_pmi_collocations",
    "d17_containment_pairs", "d20_snapshot_diff",
    "d21_softdedup_weights",
    "d22_dedup_roi", "d23_removal_propagation",
    "d24_editdist_neardup", "d25_lsh_layout_tuner",
    "p23_weighted_sample",
    "p24_shard_balance",
    "d18_bloom_decontamination",
    "m01_media_metadata", "m02_decode_stats", "m03_frame_sample",
    "m04_feature_extract", "m05_media_dedup",
    "m06_multimodal_packing", "m07_phash_neardup",
    "m08_media_canonical",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("adv_sf"))
    for p in glob.glob(os.path.join(SRC, "*.parquet")):
        if os.path.basename(p) != "documents.parquet":
            shutil.copy(p, os.path.join(root, os.path.basename(p)))
    tbl = pa.table({
        "doc_id": pa.array([r[0] for r in ADV_ROWS], pa.int64()),
        "text": pa.array([r[1] for r in ADV_ROWS], pa.string()),
        "lang": pa.array([r[2] for r in ADV_ROWS], pa.string()),
        "source": pa.array([r[3] for r in ADV_ROWS], pa.string()),
        "n_chars": pa.array(
            [len(r[1]) if r[1] is not None else None for r in ADV_ROWS],
            pa.int64(),
        ),
    })
    pq.write_table(tbl, os.path.join(root, "documents.parquet"))
    return root


@pytest.fixture(scope="module")
def adv_con(adv_dir):
    con = duckdb_conn(adv_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", SWEEP)
def test_adversarial_oracle_parity(spark, adv_dir, adv_con, name):
    from kafka2clickhouse_py_streamer_spark.operators.base import all_queries

    q = all_queries()[name]
    r = compare(q.fn(spark, adv_dir), adv_con, q.oracle)
    assert r.get("count_match"), (name, r)
    assert r.get("cols_match"), (name, r)
    assert r.get("values_match"), (name, r)


# --- events + embeddings hostile fixtures -------------------------------

EVENTS_SWEEP = [
    "w01_tumbling", "w02_sliding", "w03_session_window",
    "w04_enriched_windows", "w05_attribution", "w06_window_distinct",
    "w07_window_topk", "w08_disorder_profile", "q10_lag_lead",
    "q28_sessionization", "q29_keep_first", "q17_date_fns",
    "q18_json_fns", "q41_map_fns", "q51_skew_profile",
    "q26_asof_join", "q63_forward_asof",
    "q52_interval_frame", "q53_funnel", "q55_robust_outliers",
    "q58_scd2_intervals", "q59_concurrency", "q61_gaps_islands",
    "w09_gap_fill", "w10_rate_anomaly", "w11_rollup_cascade",
    "w12_countmin_heavyhitters", "w13_histogram_quantiles",
    "w14_decayed_rate", "w15_hll_distinct", "q65_running_distinct",
    "q66_table_profile", "q67_sequence_match",
    "w16_profile_sketch", "q68_interval_coverage",
]

EMB_SWEEP = [
    "s01_cosine_topk", "s02_lsh_buckets", "s03_lsh_topk",
    "s04_ivf_topk", "s05_trained_ivf", "s06_quantize", "s07_knn_label",
    "s08_ann_recall", "s09_knn_graph", "s10_pagerank",
    "d05_embedding_neardup", "d15_semdedup", "s11_cluster_quality",
    "s12_product_quantize", "s13_pq_adc_topk", "q19_array_fns",
    "s14_ivfpq_search", "s15_mrl_truncation_recall",
    "s16_rrf_fusion", "s17_probe_recall_sweep", "s18_knn_label_eval",
    "s19_cascade_rerank", "s20_index_staleness",
    "s21_filtered_search", "s22_khop_expansion",
    "s23_mips_norm_pruned", "s24_triangle_count",
    "s25_radius_search",
]


@pytest.fixture(scope="module")
def adv_ev_dir(tmp_path_factory) -> str:
    import datetime

    import numpy as np

    root = str(tmp_path_factory.mktemp("adv_ev"))
    for p in glob.glob(os.path.join(SRC, "*.parquet")):
        n = os.path.basename(p)
        if n not in ("events.parquet", "embeddings.parquet"):
            shutil.copy(p, os.path.join(root, n))

    t0 = datetime.datetime(2024, 3, 1)

    def ts(h, m=0):
        return t0 + datetime.timedelta(hours=h, minutes=m)

    ev = [
        (1, ts(0), 1, "view", 1.0, '{"k": 1}'),
        (2, ts(0, 5), 1, "click", 2.5, None),
        (3, ts(0, 10), None, "view", None, '{"k": 2}'),
        (4, ts(1), 2, None, 3.0, "not json"),
        (5, None, 2, "purchase", 1e15, "{}"),
        # exact 30-min gap: the session_window merge boundary
        (6, ts(2), 3, "view", -1e15, '{"nested": {"a": [1, 2]}}'),
        (7, ts(2, 30), 3, "view", 0.0, None),
        (8, ts(100), 4, "click", 7.0, None),
        (9, ts(0), 5, "view", 5.0, None),
        (10, ts(0), 5, "view", 5.0, None),  # duplicate values
        # non-finite measurements: both engines propagate NaN/Inf
        # through sums identically (verified; the harness
        # canonicalizes them) — these rows pin that equivalence
        (11, ts(3), 6, "view", float("nan"), None),
        (12, ts(3, 5), 6, "click", float("inf"), None),
    ]
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in ev], pa.int64()),
        "ts": pa.array([r[1] for r in ev], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in ev], pa.int64()),
        "event_type": pa.array([r[3] for r in ev], pa.string()),
        "value": pa.array([r[4] for r in ev], pa.float64()),
        "props": pa.array([r[5] for r in ev], pa.string()),
    })
    pq.write_table(tbl, os.path.join(root, "events.parquet"))

    vecs, labels = [], []
    for i in range(40):
        if i == 20:
            v = None
        elif i == 21:
            v = []
        elif i == 22:
            v = [0.0] * 64  # zero norm
        elif i == 23:
            v = [1.0] * 8  # wrong dimension
        elif i == 24:
            v = [float("nan")] * 64  # all-NaN: poisons every score
        elif i == 25:
            rng = np.random.RandomState(i)
            v = [float(x) for x in rng.randn(64)]
            v[0] = float("inf")  # one Inf element
        elif i == 26:
            rng = np.random.RandomState(i)
            v = [float(x) for x in rng.randn(64)]
            v[3] = float("nan")  # one NaN element — crashed the Lloyd
            # trainer driver-side (math.floor(NaN)) before the finite
            # admission gate
        elif i == 27:
            rng = np.random.RandomState(i)
            v = [float(x) for x in rng.randn(64)]
            v[:8] = [0.0] * 8  # zero PREFIX norm: passes the full-DIM
            # admission gate but divides by zero in s15's d=8
            # truncated cosine (round-5 advice — NULL scores polluted
            # the top-k before the prefix-norm filter)
        else:
            rng = np.random.RandomState(i)
            v = [float(x) for x in rng.randn(64)]
        vecs.append(v)
        labels.append(i % 3 if i != 5 else None)
    emb = pa.table({
        "vec_id": pa.array(list(range(40)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))
    return root


@pytest.fixture(scope="module")
def adv_ev_con(adv_ev_dir):
    con = duckdb_conn(adv_ev_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EVENTS_SWEEP + EMB_SWEEP)
def test_adversarial_events_embeddings_parity(
    spark, adv_ev_dir, adv_ev_con, name
):
    from kafka2clickhouse_py_streamer_spark.operators.base import all_queries

    q = all_queries()[name]
    r = compare(q.fn(spark, adv_ev_dir), adv_ev_con, q.oracle)
    assert r.get("count_match"), (name, r)
    assert r.get("cols_match"), (name, r)
    assert r.get("values_match"), (name, r)


@pytest.fixture(scope="module")
def degenerate_dir(tmp_path_factory) -> str:
    """Fully-degenerate inputs: constant-price lineitem (zero histogram
    width) and an all-empty documents corpus (zero total tokens) — the
    divide-by-zero edges that crash under Spark's ANSI arithmetic when
    unguarded while DuckDB silently yields NULL."""
    import duckdb

    root = str(tmp_path_factory.mktemp("degenerate"))
    for p in glob.glob(os.path.join(SRC, "*.parquet")):
        n = os.path.basename(p)
        if n not in ("lineitem.parquet", "documents.parquet"):
            shutil.copy(p, os.path.join(root, n))
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * REPLACE (CAST(42.0 AS DOUBLE) AS l_extendedprice)"
        f" FROM read_parquet('{SRC}/lineitem.parquet') LIMIT 5)"
        f" TO '{root}/lineitem.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT doc_id, '' AS text, lang, source,"
        f" CAST(0 AS BIGINT) AS n_chars"
        f" FROM read_parquet('{SRC}/documents.parquet') LIMIT 5)"
        f" TO '{root}/documents.parquet' (FORMAT PARQUET)"
    )
    con.close()
    return root


@pytest.mark.parametrize(
    "name", ["q54_histogram", "p11_curriculum_stages", "p12_temperature_mix"]
)
def test_degenerate_divisors_guarded(spark, degenerate_dir, name):
    from kafka2clickhouse_py_streamer_spark.operators.base import all_queries

    con = duckdb_conn(degenerate_dir)
    try:
        q = all_queries()[name]
        r = compare(q.fn(spark, degenerate_dir), con, q.oracle)
        assert r.get("count_match"), (name, r)
        assert r.get("values_match"), (name, r)
    finally:
        con.close()


def test_s10_empty_after_gate_returns_empty(spark, tmp_path):
    # ALL embeddings malformed -> the vector gate leaves zero nodes;
    # s10 must return an empty frame (matching its oracle), not divide
    # by zero on the driver
    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        s10_pagerank,
    )

    root = str(tmp_path / "empty_emb")
    os.makedirs(root)
    emb = pa.table({
        "vec_id": pa.array([0, 1, 2], pa.int64()),
        "embedding": pa.array(
            [None, [], [0.0] * 64], pa.list_(pa.float32())
        ),
        "label": pa.array([0, 1, 2], pa.int32()),
    })
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))
    df = s10_pagerank(spark, root)
    assert df.columns == ["vec_id", "pagerank", "out_degree"]
    assert df.count() == 0


def test_vector_gate_excludes_only_malformed(spark, adv_ev_dir):
    # the admission gate must drop EXACTLY the 7 corrupt vectors
    # (null, empty, zero-norm, wrong-dim, all-NaN, single-NaN,
    # single-Inf) and keep all 33 valid ones
    from kafka2clickhouse_py_streamer_spark.functions import valid_embeddings
    from kafka2clickhouse_py_streamer_spark.operators.base import table

    em = table(spark, adv_ev_dir, "embeddings")
    kept = {r.vec_id for r in valid_embeddings(em, 64).collect()}
    assert kept == set(range(40)) - {20, 21, 22, 23, 24, 25, 26}


def test_w09_null_event_type_hours_are_counted(spark, adv_ev_dir):
    # event 4 has event_type NULL and a valid ts: its hour must appear
    # in the gap-fill output with its count, NOT as a zeroed fake gap —
    # the regression a plain (non-null-safe) grid join reintroduces on
    # BOTH engines at once (so only a semantic assertion catches it)
    from kafka2clickhouse_py_streamer_spark.streaming.batch_windows import (
        w09_gap_fill,
    )

    rows = w09_gap_fill(spark, adv_ev_dir).collect()
    null_rows = [r for r in rows if r.event_type is None]
    assert null_rows, "NULL event_type must form its own series"
    counted = [r for r in null_rows if r.n_events > 0]
    assert counted and not counted[0].is_gap


def test_s11_s05_survive_missing_residue_class(spark, tmp_path):
    # every corpus vector with vec_id % 4 == 3 is malformed -> centroid
    # class 3 never trains; cell ids must stay KEYED to the surviving
    # residues (0,1,2) and match the oracle — positional renumbering
    # (the pre-fix bug) would crash or silently shift cell 3's members
    import numpy as np

    from kafka2clickhouse_py_streamer_spark.llm.similarity import (
        s05_trained_ivf,
        s11_cluster_quality,
    )
    from tests.oracle_harness import compare, duckdb_conn
    from kafka2clickhouse_py_streamer_spark.operators.base import (
        all_queries,
    )

    root = str(tmp_path / "gap_emb")
    os.makedirs(root)
    vecs = []
    for i in range(50):
        if i >= 10 and i % 4 == 3:
            vecs.append(None)  # kill the whole residue class
        else:
            rng = np.random.RandomState(1000 + i)
            vecs.append([float(x) for x in rng.randn(64)])
    emb = pa.table({
        "vec_id": pa.array(list(range(50)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([i % 3 for i in range(50)], pa.int32()),
    })
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))
    con = duckdb_conn(root)
    try:
        qs = all_queries()
        for name, fn in (
            ("s05_trained_ivf", s05_trained_ivf),
            ("s11_cluster_quality", s11_cluster_quality),
        ):
            r = compare(fn(spark, root), con, qs[name].oracle)
            assert r.get("values_match"), (name, r)
    finally:
        con.close()


def test_p04_p13_null_doc_id_parity(spark, tmp_path):
    # a NULL doc_id must hash to a PINNED position on the weight line:
    # an unpinned NULL sort key lands at opposite ends under Spark's
    # NULLS FIRST vs DuckDB's NULLS LAST window defaults, shifting
    # every downstream offset
    from kafka2clickhouse_py_streamer_spark.llm.sampling import (
        p04_global_shuffle,
        p13_pps_sample,
    )
    from tests.oracle_harness import compare, duckdb_conn
    from kafka2clickhouse_py_streamer_spark.operators.base import (
        all_queries,
    )

    root = str(tmp_path / "null_id_docs")
    os.makedirs(root)
    ids = [None] + list(range(1, 30))
    tbl = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(
            [f"doc body number {i} with several words" for i in range(30)],
            pa.string(),
        ),
        "lang": pa.array(["en"] * 30, pa.string()),
        "source": pa.array(["web", "books"] * 15, pa.string()),
        "n_chars": pa.array([20 + 3 * i for i in range(30)], pa.int64()),
    })
    pq.write_table(tbl, os.path.join(root, "documents.parquet"))
    con = duckdb_conn(root)
    try:
        qs = all_queries()
        for name, fn in (
            ("p04_global_shuffle", p04_global_shuffle),
            ("p13_pps_sample", p13_pps_sample),
        ):
            r = compare(fn(spark, root), con, qs[name].oracle)
            assert r.get("values_match"), (name, r)
    finally:
        con.close()


# --- vacuous-mirror-green guard (r8 verdict, What's-wrong #3) ------------

def test_vacuous_mirror_greens_have_nonempty_twins(
    spark, adv_dir, adv_ev_dir, tmp_path
):
    """An oracle green with 0 Spark rows is `0 == 0` — it cannot
    distinguish a correct operator from a degenerately-empty one.
    test_oracle_match only lets a KNOWN_VACUOUS query come back empty;
    this proves each of them NON-empty (and oracle-equal) on crafted
    data, so a query can never be "covered" by emptiness alone."""
    from kafka2clickhouse_py_streamer_spark.operators.base import all_queries

    # crafted fixture for q05: customers that genuinely have no orders
    q05_dir = str(tmp_path / "childless_customers")
    os.makedirs(q05_dir)
    for p in glob.glob(os.path.join(SRC, "*.parquet")):
        if os.path.basename(p) != "customer.parquet":
            shutil.copy(p, os.path.join(q05_dir, os.path.basename(p)))
    cust = pq.read_table(os.path.join(SRC, "customer.parquet"))
    top = cust.to_pylist()
    maxkey = max(r["c_custkey"] for r in top)
    for i in range(1, 4):
        row = dict(top[0])
        row["c_custkey"] = maxkey + i
        row["c_name"] = f"Childless Customer#{i}"
        top.append(row)
    pq.write_table(
        pa.Table.from_pylist(top, schema=cust.schema),
        os.path.join(q05_dir, "customer.parquet"),
    )

    # crafted fixture for d05: two same-label, near-identical vectors
    # (the synthetic embeddings have no same-label pair over the 0.6
    # cosine threshold at small SF — that's why its oracle green is 0==0)
    d05_dir = str(tmp_path / "neardup_embeddings")
    os.makedirs(d05_dir)
    for p in glob.glob(os.path.join(SRC, "*.parquet")):
        if os.path.basename(p) != "embeddings.parquet":
            shutil.copy(p, os.path.join(d05_dir, os.path.basename(p)))
    base_vec = [float(i % 7) - 3.0 for i in range(64)]
    near_vec = list(base_vec)
    near_vec[0] += 0.25
    far_vec = [(-1.0) ** i * float(i % 5 + 1) for i in range(64)]
    pq.write_table(
        pa.table({
            "vec_id": pa.array([1, 2, 3, 4], pa.int64()),
            "embedding": pa.array(
                [base_vec, near_vec, far_vec, base_vec],
                pa.list_(pa.float32()),
            ),
            # 1-2 near pair shares label 7; 4 is identical to 1 but in
            # label 9 — blocking must exclude it
            "label": pa.array([7, 7, 7, 9], pa.int32()),
        }),
        os.path.join(d05_dir, "embeddings.parquet"),
    )

    # crafted fixture for m07: duplicate texts at SAME doc_id % 4
    # (ids 1 and 5 — the full-payload 64-bit hash includes the
    # k = 1 + doc_id % 4 copy count, so only same-text same-k media
    # are identical payloads) → phash Hamming distance 0 (the
    # adversarial documents fixture has all-distinct texts, so no
    # near-dup media pair exists)
    m07_dir = str(tmp_path / "dup_media_docs")
    os.makedirs(m07_dir)
    for p in glob.glob(os.path.join(SRC, "*.parquet")):
        if os.path.basename(p) != "documents.parquet":
            shutil.copy(p, os.path.join(m07_dir, os.path.basename(p)))
    dup_texts = [
        "identical payload text", "identical payload text",
        "another body", "yet another body", "fifth distinct body",
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 5, 2, 3, 4], pa.int64()),
            "text": pa.array(dup_texts, pa.string()),
            "lang": pa.array(["en"] * 5, pa.string()),
            "source": pa.array(["web"] * 5, pa.string()),
            "n_chars": pa.array([len(t) for t in dup_texts], pa.int64()),
        }),
        os.path.join(m07_dir, "documents.parquet"),
    )

    # crafted fixture for q63: events whose user_id is a real o_custkey
    # and whose ts PRECEDES that customer's order date, so a forward
    # as-of match exists (the synthetic events/orders key+time ranges
    # don't overlap that way at small SF)
    q63_dir = str(tmp_path / "pre_order_events")
    os.makedirs(q63_dir)
    for p in glob.glob(os.path.join(SRC, "*.parquet")):
        if os.path.basename(p) != "events.parquet":
            shutil.copy(p, os.path.join(q63_dir, os.path.basename(p)))
    ordr = pq.read_table(
        os.path.join(SRC, "orders.parquet"),
        columns=["o_custkey", "o_orderdate"],
    ).to_pylist()[:3]
    import datetime as _dt

    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [r["o_orderdate"] - _dt.timedelta(days=1) for r in ordr],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r["o_custkey"] for r in ordr], pa.int64()),
            "event_type": pa.array(["click"] * 3, pa.string()),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}"] * 3, pa.string()),
        }),
        os.path.join(q63_dir, "events.parquet"),
    )

    dirs = {
        "adv_dir": adv_dir,
        "adv_ev_dir": adv_ev_dir,
        "crafted_childless_customers": q05_dir,
        "crafted_neardup_embeddings": d05_dir,
        "crafted_dup_media": m07_dir,
        "crafted_pre_order_events": q63_dir,
    }
    qs = all_queries()
    for name, fixture in KNOWN_VACUOUS.items():
        d = dirs[fixture]
        con = duckdb_conn(d)
        try:
            r = compare(qs[name].fn(spark, d), con, qs[name].oracle)
            assert r.get("values_match"), (name, r)
            assert r["spark_rows"] > 0, (
                f"{name}: crafted twin is ALSO empty — not a twin"
            )
        finally:
            con.close()


def test_m07_null_payload_never_pairs(spark, adv_dir):
    """The NULL-payload contract extended to the pair graph (r12,
    closing the r11 advice): a NULL payload has no content signal
    (m01-m05 yield NULL metadata for it), so it must not appear in
    the m07 near-dup graph at all — before the fix, all NULL payloads
    hashed to ph_hi=ph_lo=0 and paired with each other at Hamming 0
    on BOTH engines, so oracle parity could never catch it. m08 must
    report each NULL-payload item as its own singleton cluster with
    zero reclaimable bytes."""
    from kafka2clickhouse_py_streamer_spark.llm.multimodal import (
        m07_phash_neardup,
        m08_media_canonical,
        phash_hashes,
    )

    null_ids = {r[0] for r in ADV_ROWS if r[1] is None}
    assert null_ids  # the fixture must keep exercising this
    hashed_ids = {
        r.doc_id for r in phash_hashes(spark, adv_dir).collect()
    }
    assert hashed_ids.isdisjoint(null_ids)
    pairs = m07_phash_neardup(spark, adv_dir).collect()
    touched = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert touched.isdisjoint(null_ids)
    clusters = {
        r.cluster_id: r for r in m08_media_canonical(spark, adv_dir).collect()
    }
    for d in null_ids:
        assert d in clusters
        assert clusters[d].n_members == 1
        assert clusters[d].dup_bytes == 0


def test_span_scrub_counts_match_scrubbed(spark, adv_dir):
    """Round-13 optimization contract: p14's counts-only scrub core
    (`_span_scrub_counts` — interval-union arithmetic over removed
    spans, no token explode/rebuild) must report EXACTLY the counts of
    the full `_span_scrubbed` policy on the hostile fixture (null /
    empty / whitespace-only / single-token / repeated-word docs) and
    on the driver fixture. The equivalence relies on one invariant —
    every covered position of an eligible doc is a non-empty token —
    which the hostile docs stress from every side (a doc whose text
    trims to nothing, a doc of exactly one token, 50x-repeated words
    whose spans overlap heavily)."""
    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        _span_scrub_counts,
        _span_scrubbed,
    )

    for d in (adv_dir, SRC):
        full = _span_scrubbed(spark, d).select(
            "doc_id", "n_tokens", "n_kept", "n_removed"
        )
        fast = _span_scrub_counts(spark, d)
        assert full.exceptAll(fast).count() == 0
        assert fast.exceptAll(full).count() == 0
        assert fast.count() == full.count()


def test_capped_family_digest_key_matches_raw_strings(spark, adv_dir):
    """Round-14 optimization contract: `_capped_shingles` keys the
    DF cap and the pair joins on the 60-bit `shingle_digest`, not the
    raw 3-word string. d11/d17 results must be IDENTICAL to a raw-
    string reference of the same pipeline — on the hostile fixture
    (null / empty / single-token / 50x-repeated-word docs, where the
    shingle population is degenerate) and on the driver fixture. The
    only way they could diverge is a digest collision merging two
    distinct shingles' DF counts or intersections; the oracle twins
    hash identically, so even that would be mirrored — this test pins
    the engine-side rewrite itself."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.llm.dedup import (
        CONTAINMENT_THRESHOLD,
        MAX_SHINGLE_DF,
        _jaccard_pairs,
        _shingle_rows,
        d11_ngram_jaccard_capped,
        d17_containment_pairs,
    )

    def raw_capped(d):
        sh = _shingle_rows(spark, d).select("doc_id", "s")
        ok = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= MAX_SHINGLE_DF)
            .select("s")
        )
        return sh.join(ok, "s", "left_semi")

    for d in (adv_dir, SRC):
        ref_d11 = [tuple(r) for r in _jaccard_pairs(raw_capped(d)).collect()]
        got_d11 = [
            tuple(r) for r in d11_ngram_jaccard_capped(spark, d).collect()
        ]
        assert got_d11 == ref_d11
        got_d17 = [
            tuple(r) for r in d17_containment_pairs(spark, d).collect()
        ]
        # raw-string d17 reference: containment tail over the raw capped
        # frame
        sh = raw_capped(d)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        a = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
        b = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
        inter = (
            a.join(
                b,
                (F.col("s_b") == F.col("s_a"))
                & (F.col("doc_b") > F.col("doc_a")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sa, sb = sizes.alias("sa"), sizes.alias("sb")
        sized = inter.join(sa, F.col("doc_a") == F.col("sa.doc_id")).join(
            sb, F.col("doc_b") == F.col("sb.doc_id")
        )
        both = sized.select(
            "n_common",
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("contained"),
                        F.col("doc_b").alias("container"),
                        F.col("sa.n").alias("n_contained"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("contained"),
                        F.col("doc_a").alias("container"),
                        F.col("sb.n").alias("n_contained"),
                    ),
                )
            ).alias("p"),
        ).select("p.contained", "p.container", "p.n_contained", "n_common")
        raw = F.col("n_common") / F.col("n_contained")
        ref_d17 = [
            tuple(r)
            for r in both.filter(raw >= CONTAINMENT_THRESHOLD)
            .select(
                "contained",
                "container",
                F.col("n_common").cast("long").alias("n_common"),
                F.round(raw, 6).alias("containment"),
            )
            .orderBy("contained", "container")
            .collect()
        ]
        assert got_d17 == ref_d17

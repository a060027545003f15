"""Deduplication operators over ``documents`` (and ``embeddings``):

- d01: exact dedup (hash-groupBy on content fingerprint)
- d02: n-gram Jaccard similarity (shingle explode + equi-join — the
  scalable count-based formulation, no quadratic list ops)
- d03: MinHash + LSH banding (signature → band keys → bucket join →
  candidate pairs → exact Jaccard verify)
- d04: SimHash (per-token hash, bitwise majority vote)
- d05: embedding near-duplicates (cosine >= threshold, label-blocked)

Scale notes: every formulation is shuffle-bounded — shingles/bands are
exploded to rows and joined on equi-keys (Spark hash-partitions the
shingle/band space), never materialized as quadratic pair lists. The
MinHash band join is exactly the 100 TB pattern: |candidates| ~ collisions,
not |docs|^2. All hashes are explicit integer arithmetic (no engine hash
functions) so the DuckDB oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka2clickhouse_py_streamer_spark.functions import (
    cosine,
    l2_norm,
    poly_hash_sql,
    shingle_digest,
    shingle_digest_sql,
    shingles_expr,
    to_double_vec,
    tokens_expr,
    valid_emb_sql,
    valid_embeddings,
)
from kafka2clickhouse_py_streamer_spark.operators.base import Query, table
from kafka2clickhouse_py_streamer_spark.session import substrate
from kafka2clickhouse_py_streamer_spark.llm.similarity import (
    DIM as EMB_DIM,
)

SHINGLE_WORDS = 3  # word-level shingles (char n-grams don't discriminate
# on small vocabularies — measured: all doc pairs land at 0.4-0.6 char-3
# jaccard, while word-3 jaccard is ~0 for unrelated docs and >0.9 for dups)
MINHASH_PRIME = 2147483647
NUM_HASHES = 16
BANDS = 4  # 4 bands x 4 rows
ROWS_PER_BAND = NUM_HASHES // BANDS
MINHASH_JACCARD_THRESHOLD = 0.5
NEARDUP_COSINE = 0.6

# Deterministic affine permutation constants (a_j * H + b_j) mod P.
HASH_AS = [2 * j + 3 for j in range(NUM_HASHES)]
HASH_BS = [7 * j + 1 for j in range(NUM_HASHES)]

# Word-3-shingles: tokenize, slide a 3-token window, space-join.
# (Token array is materialized as a column FIRST — see functions.hashing:
# inlining split() re-evaluates the regex per element; measured 56 s vs
# <1 s on 500 docs.)
_SPARK_TOKENS = tokens_expr("coalesce(text, '')")
_SPARK_SHINGLES = shingles_expr("tk", SHINGLE_WORDS)

# COALESCE(text, '') on BOTH engines: null text behaves exactly like
# empty text (one '' shingle) — without it Spark's transform-over-null
# yields '' while DuckDB's array_to_string(NULL) yields NULL, and the
# two engines silently disagree on which docs pair up.
_DUCK_SHINGLES_CTE = r"""
toks AS (
  SELECT doc_id, source,
         regexp_split_to_array(TRIM(LOWER(COALESCE(text, ''))), '\s+') AS tk
  FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(list_slice(tk, CAST(i AS INTEGER),
                                    CAST(i AS INTEGER) + 2), ' ') AS s
  FROM (SELECT doc_id, source, tk,
               UNNEST(RANGE(1, GREATEST(LEN(tk) - 1, 2))) AS i
        FROM toks)
)"""

# Polynomial hash of a shingle (functions.hashing): explicit integer
# arithmetic so Spark and DuckDB agree exactly.
_SPARK_H = poly_hash_sql("{s}")
_DUCK_H = poly_hash_sql("{s}")


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, s): distinct word-3-shingles, one row each."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "source", F.expr(_SPARK_TOKENS).alias("tk")
    ).select("doc_id", "source", F.explode(F.expr(_SPARK_SHINGLES)).alias("s"))


def _shingle_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n): each document's DISTINCT-shingle count as a
    ROW-LOCAL projection — ``size()`` of the same shingle array
    `_shingle_rows` explodes, never the explode→groupBy round-trip
    consumers used to pay (``sizes = sh.groupBy(doc_id).count()``
    re-shingled the corpus, exploded it, and shuffled the partials).
    One scan, one array build per doc, zero exchanges. Taken BEFORE
    any DF-capping, so capped consumers (d11/d17) keep their own
    post-filter sizes.

    Two rejected variants, both measured slower at sf0.1 (round 13):
    carrying ``n`` through the explode via a projected array alias
    makes InferFiltersFromGenerate add a ``size(arr) > 0`` filter that
    predicate-pushdown re-inlines as the FULL shingle expression per
    scan row, and the retained array column rides the Generate into
    every exploded row (d09 1.0 → 4.1 s); putting ``size(<expr>)``
    beside ``explode(<expr>)`` in one select lands the size in the
    post-Generate projection — one array build PER SHINGLE row
    (d09 → 18.8 s)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "source", F.expr(_SPARK_TOKENS).alias("tk")
    ).select(
        "doc_id", "source", F.size(F.expr(_SPARK_SHINGLES)).alias("n")
    )


def _capped_shingles(
    spark: SparkSession, sf_dir: str, max_df: int
) -> DataFrame:
    """(doc_id, s) shingle rows with hot shingles (document frequency
    > ``max_df``) semi-joined away — the shared DF-cap front of d11/d17
    (and the plan shape the capped-family tests pin: the LeftSemi must
    run BEFORE any pair join).

    ``s`` is the 60-bit `shingle_digest`, not the raw 3-word string —
    the d03 trick applied to the capped family (round 14): the DF-cap
    groupBy, the semi-join, and both pair-join sides key on an 8-byte
    long instead of a ~25-byte string, and each capped consumer
    materializes its own copy, so the md5 is paid once per consumer,
    into checkpoint blocks that are ~18% smaller to re-read. Measured
    at sf1 (cold single-run REST receipts + interleaved A/B): shuffle write
    129.9 → 116.1 MB — only ~11%, NOT the naive 3× byte estimate,
    because lz4 already compresses the low-entropy shingle strings —
    d17 wall 7.66 → 6.19 s / 5.74 → 5.16 s (two sessions), d11 (with
    its round-14 cut) 7.28 → 5.71 s. The oracle twins hash identically
    (`shingle_digest_sql`), so a ~2⁻⁶⁰ digest collision would merge the
    same two shingles on both sides — mirrored, never a mismatch; the
    fixtures are collision-free (272 128 distinct shingles = distinct
    digests at sf1, checked).

    Kept out: p21 (keys its split-leakage joins on the raw string;
    digest measured FLAT there — its shuffles are doc-keyed aggs, the
    shingle join is one distinct-projected side) and d02 (uncapped;
    shuffle bytes measured IDENTICAL 90.48 MB either way — its pair
    join reuses one exchange for both sides and the remaining shuffles
    don't carry the shingle)."""
    sh = _shingle_rows(spark, sf_dir).select(
        "doc_id", shingle_digest("s").alias("s")
    )
    df_ok = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("s")
    )
    return sh.join(df_ok, "s", "left_semi")


def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on MD5(text); one canonical doc per
    group (min doc_id), copy count. One shuffle on the 128-bit key —
    the trivially-100 TB-safe dedup."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("canonical_id")
    )


D01_SQL = """
SELECT MD5(text) AS fp,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY MD5(text)
ORDER BY canonical_id
"""


NGRAM_JACCARD_THRESHOLD = 0.2


def _jaccard_pairs(sh: DataFrame, sizes: DataFrame | None = None) -> DataFrame:
    """Shared pair-join tail of d02/d11: given a (doc_id, s) shingle
    frame, inverted-index-block on the shingle, count intersections,
    and return thresholded (doc_a, doc_b, n_common, jaccard).

    ``sizes`` (doc_id, n) overrides the default explode→groupBy count
    of ``sh`` — d02 passes the row-local `_shingle_sizes` projection
    (round 13); d11/d17 keep the default because their sets are
    DF-capped and the count must be post-filter.

    Filters on the RAW ratio (the oracles do too); rounds only for
    display — filtering the rounded value would keep pairs the oracle
    drops when the true jaccard sits within 5e-7 below the threshold."""
    if sizes is None:
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
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    raw = F.col("n_common") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(raw >= NGRAM_JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(raw, 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _jaccard_tail_sql(src: str) -> str:
    """The oracle twin of :func:`_jaccard_pairs` over CTE ``src``."""
    return f"""sizes AS (SELECT doc_id, COUNT(*) AS n FROM {src} GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM {src} a
  JOIN {src} b ON b.s = a.s AND b.doc_id > a.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_common,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
      >= {NGRAM_JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b"""


def d02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs n-gram Jaccard above a threshold, count-based:

    candidate pairs = docs sharing >= 1 shingle (equi-join on the shingle
    — inverted-index blocking, never a cross join); |A∩B| = match count,
    |A∪B| = |A|+|B|-|A∩B|. The shingle join shuffles on the shingle
    value, so hot shingles (stopword runs) are the skew risk at 100 TB —
    d03's MinHash bands bound that by construction, d11's DF cap
    removes it at the source.
    """
    return _jaccard_pairs(
        _shingle_rows(spark, sf_dir),
        sizes=_shingle_sizes(spark, sf_dir).select("doc_id", "n"),
    )


MAX_SHINGLE_DF = 50  # d11: drop shingles present in more docs than this


def d11_ngram_jaccard_capped(
    spark: SparkSession, sf_dir: str, max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """d02 with stop-shingle removal: shingles whose document frequency
    exceeds ``max_df`` are dropped BEFORE the pair join — the standard
    mitigation for d02's hot-shingle skew. A shingle in k docs creates
    k² join rows; boilerplate shingles ("terms of service apply") reach
    k ~ corpus size and a single shuffle partition explodes. Capping DF
    bounds every shingle's contribution at max_df² and removes exactly
    the shingles that carry no near-dup signal (they match everything).

    Jaccard is then computed over the FILTERED shingle sets — the
    DF-capped approximation, mirrored exactly by the oracle. With
    ``max_df`` above the corpus size this degrades to d02 precisely
    (pinned by test)."""
    # Round-13 rejected the d17-style capped-frame cut here (raw-string
    # blocks: A/B 3.59 → 5.18 s at sf0.1). Round 14 re-measured it ON
    # TOP OF the digest key and the trade flips at both scales: the
    # checkpoint now stores (long, long) rows instead of the shingle
    # strings, so the cut job is cheap enough that saving the 3×
    # re-derivation (sizes + both pair sides) wins — interleaved A/B
    # vs the uncut raw form: 4.94 → 4.59 s at sf0.1, 7.4 → 5.7 s at
    # sf1. Same iter_materialize cut as d17/s24.
    from kafka2clickhouse_py_streamer_spark.functions.graph import (
        iter_materialize,
    )

    return _jaccard_pairs(
        iter_materialize(_capped_shingles(spark, sf_dir, max_df))
    )


def _d11_sql() -> str:
    # `hashed` mirrors `_capped_shingles`' digest key exactly
    # (shingle_digest_sql ≡ shingle_digest), so DF counts, the cap and
    # the pair intersection group on the same 60-bit value on both
    # sides — a digest collision would be mirrored, never a mismatch.
    return f"""
WITH {_DUCK_SHINGLES_CTE},
hashed AS (
  SELECT doc_id, {shingle_digest_sql('s')} AS s FROM shingles
),
kept AS (
  SELECT sh.doc_id, sh.s
  FROM hashed sh
  JOIN (SELECT s FROM hashed GROUP BY s
        HAVING COUNT(*) <= {MAX_SHINGLE_DF}) ok USING (s)
),
{_jaccard_tail_sql("kept")}
"""


D02_SQL = f"""
WITH {_DUCK_SHINGLES_CTE},
{_jaccard_tail_sql("shingles")}
"""


def _explode_bands(sig: DataFrame, id_col: str) -> DataFrame:
    """mh0..mhN signature frame → (id, band_id, band_key): the single
    source of the band-key layout, shared by d03's candidate join, d14's
    admission predicate, and the streaming near-dup state table."""
    band_cols = [
        F.struct(
            F.lit(bi).alias("band_id"),
            F.concat_ws(
                "-",
                *[
                    F.col(f"mh{bi * ROWS_PER_BAND + r}")
                    for r in range(ROWS_PER_BAND)
                ],
            ).alias("band_key"),
        )
        for bi in range(BANDS)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(F.col(id_col), "bk.band_id", "bk.band_key")


def _minhash_sig_and_candidates(spark: SparkSession, sf_dir: str):
    """Shared MinHash front half (d03 detection + d10 calibration):
    returns ``(sig, cand)`` where sig = per-doc (n, hashed shingle set,
    mh0..mh15) and cand = distinct banded-LSH candidate pairs."""
    # Materialize both per-shingle hashes as columns BEFORE the agg: the
    # 16 min-aggs then reference a cheap long column instead of inlining
    # the 8-term polynomial 16× (which would hash every shingle 16 times
    # per row if codegen CSE misses; measured ~20% end-to-end).
    # - h: base-31 polynomial, feeds the 16 affine minhash permutations
    # - hs: 60-bit md5 prefix, the verify-set element — 8-byte shuffle
    #   payload per shingle instead of the ~25-byte string, and an
    #   integer array_intersect. The oracle hashes identically, so a
    #   collision (~|shingles|²/2⁶⁰, negligible) would be mirrored, not
    #   a mismatch.
    sh = _shingle_rows(spark, sf_dir).select(
        "doc_id",
        F.expr(_SPARK_H.format(s="s")).cast("long").alias("h"),
        shingle_digest("s").alias("hs"),
    )
    # ONE aggregation of the shingle frame produces everything the rest
    # of the pipeline needs: shingle count, the hashed shingle set (for
    # the exact verify via array_intersect — no re-explode, no second
    # big join), and the 16 minhash components. One shuffle on doc_id;
    # everything downstream operates on |docs|-sized frames.
    #
    # Deliberately NOT cached: three consumers (band explode,
    # verify-left, verify-right) re-derive this subtree, and Catalyst
    # can't ReuseExchange across their differing projections — but
    # measured at bench scale, recompute (1.46 s) beats
    # localCheckpoint (2.26 s) and persist (1.91 s): materializing the
    # collect_list arrays costs more than re-running the scan+agg. At
    # 100 TB the trade flips — shingling the corpus 3× is the dominant
    # cost there — so a deployment would insert
    # ``.localCheckpoint()``/a signatures table write at this line.
    sig = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_list("hs").alias("ss"),
        *[
            F.min(
                (F.lit(HASH_AS[j]) * F.col("h") + F.lit(HASH_BS[j]))
                % MINHASH_PRIME
            ).alias(f"mh{j}")
            for j in range(NUM_HASHES)
        ]
    )
    # Round-13 re-measure: materializing the band-key frame before the
    # self-join (iter_materialize, the s24 pattern) was tried and is
    # SLOWER at bench scale — A/B medians d03 1.84→2.46 s,
    # d24 1.90→2.11 s — the cut job's fixed cost plus losing parallel
    # stage scheduling outweighs the saved signature recompute, the
    # same trade the round-8 sig-cache measurement in
    # `_minhash_sig_and_candidates`' comment records. Round 14 MEASURED
    # the flip: at sf1 the sig cut wins (interleaved A/B, rows
    # identical: d03 3.14→2.62 s) while sf0.1 still loses (1.84→2.39 s,
    # re-reproduced same session) — the crossover sits between the
    # bench scale and 10× it, so the bench-scale shape stays uncut and
    # a deployment persists the signature/band table (it IS the LSH
    # index).
    bands = _explode_bands(sig, "doc_id")
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return sig, cand


def d03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection, end to end:

    shingles → 16 minhash signatures (affine perms over an explicit
    polynomial char hash) → 4 bands × 4 rows → band-bucket equi-join →
    distinct candidate pairs → exact Jaccard verify (count-based) →
    pairs with jaccard >= threshold.
    """
    sig, cand = _minhash_sig_and_candidates(spark, sf_dir)
    # exact verify: two |docs|-sized joins bring each side's shingle
    # set to the candidate pair; intersection is a codegen'd
    # array_intersect per pair (shingles are distinct per doc, so set
    # semantics equal count semantics)
    za = sig.select(
        F.col("doc_id").alias("za_id"),
        F.col("n").alias("na"),
        F.col("ss").alias("ssa"),
    )
    zb = sig.select(
        F.col("doc_id").alias("zb_id"),
        F.col("n").alias("nb"),
        F.col("ss").alias("ssb"),
    )
    n_common = F.size(F.array_intersect(F.col("ssa"), F.col("ssb")))
    # Raw-ratio filter mirrors the oracle exactly (see d02 note).
    raw = n_common / (F.col("na") + F.col("nb") - n_common)
    return (
        cand.join(za, F.col("doc_a") == F.col("za_id"))
        .join(zb, F.col("doc_b") == F.col("zb_id"))
        .filter(raw >= MINHASH_JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(raw, 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _sig_pair(sig: DataFrame):
    """(za, zb) signature-side frames for candidate-pair calibration —
    the SHARED layout of d10 (Jaccard) and d19 (containment): per-side
    id alias, set size, digest set, and the 16 minhash components with
    a/b prefixes. One source, or the two calibrations silently drift."""
    za = sig.select(
        F.col("doc_id").alias("za_id"),
        F.col("n").alias("na"),
        F.col("ss").alias("ssa"),
        *[F.col(f"mh{j}").alias(f"amh{j}") for j in range(NUM_HASHES)],
    )
    zb = sig.select(
        F.col("doc_id").alias("zb_id"),
        F.col("n").alias("nb"),
        F.col("ss").alias("ssb"),
        *[F.col(f"mh{j}").alias(f"bmh{j}") for j in range(NUM_HASHES)],
    )
    return za, zb


def _sig_agree():
    """Count of agreeing minhash components over a `_sig_pair` join."""
    return sum(
        F.when(F.col(f"amh{j}") == F.col(f"bmh{j}"), 1).otherwise(0)
        for j in range(NUM_HASHES)
    )


def _d03_cal_sql_parts() -> tuple[str, str]:
    """(CTE prefix, agree expression) shared by the d10/d19 oracles:
    d03's chain up to (excluding) its verify CTE, plus the
    CASE-WHEN agreement sum over the joined signature rows."""
    d03 = _d03_sql().strip()
    cte = d03[: d03.rindex("inter AS")].rstrip().rstrip(",")
    agree = " + ".join(
        f"(CASE WHEN za.mh{j} = zb.mh{j} THEN 1 ELSE 0 END)"
        for j in range(NUM_HASHES)
    )
    return cte, agree


def d10_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every banded-LSH candidate
    pair, the exact Jaccard next to the signature estimate
    (#agreeing components / 16) and their absolute error — the
    measurement that justifies the (bands, rows) parameterization
    before trusting d03 on a real corpus (s08's role, for dedup).

    Both columns are deterministic integer arithmetic over identical
    minhash values, so the oracle matches exactly — no tolerance
    bound needed. Unfiltered (no jaccard threshold): calibration wants
    the whole candidate range, including the false positives the
    verify stage later drops."""
    sig, cand = _minhash_sig_and_candidates(spark, sf_dir)
    za, zb = _sig_pair(sig)
    n_common = F.size(F.array_intersect(F.col("ssa"), F.col("ssb")))
    exact = n_common / (F.col("na") + F.col("nb") - n_common)
    est = _sig_agree() / F.lit(float(NUM_HASHES))
    return (
        cand.join(za, F.col("doc_a") == F.col("za_id"))
        .join(zb, F.col("doc_b") == F.col("zb_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(exact, 6).alias("jaccard"),
            F.round(est, 6).alias("est_jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _d10_sql() -> str:
    # reuse d03's CTE prefix up to (excluding) its verify CTE — cal
    # below re-derives the intersection WITH the signature columns, so
    # keeping d03's `inter` would just emit dead SQL
    cte, agree = _d03_cal_sql_parts()
    return f"""{cte},
cal AS (
  SELECT c.doc_a, c.doc_b,
         za.n AS na, zb.n AS nb,
         LEN(list_intersect(za.hs, zb.hs)) AS n_common,
         ({agree}) AS n_agree
  FROM cand c
  JOIN sig za ON za.doc_id = c.doc_a
  JOIN sig zb ON zb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard,
       ROUND(n_agree / {float(NUM_HASHES)}, 6) AS est_jaccard,
       ROUND(ABS(n_agree / {float(NUM_HASHES)}
             - CAST(n_common AS DOUBLE) / (na + nb - n_common)), 6)
         AS abs_err
FROM cal
ORDER BY doc_a, doc_b
"""


def d19_containment_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash CONTAINMENT estimator calibration — d10's role for the
    d17 measure: for every banded-LSH candidate pair and BOTH
    directions, the exact containment |A∩B|/|A| next to the
    signature-only estimate Ĉ = Ĵ·(|A|+|B|) / ((1+Ĵ)·|A|)
    (Broder's identity: containment from estimated Jaccard + the two
    set sizes, which a deployment has without the sets). The abs
    error column measures whether signatures + sizes alone can drive
    the d17 policy at corpus scale (storing shingle sets is the
    expensive part; sizes are one long each). The estimate is NOT
    clipped to [0,1] — calibration wants the estimator's raw bias
    visible.

    Scale shape: d10's — candidate pairs from band collisions, one
    signature join per side, row-local arithmetic; the direction
    split is a row-local explode."""
    sig, cand = _minhash_sig_and_candidates(spark, sf_dir)
    za, zb = _sig_pair(sig)
    n_common = F.size(F.array_intersect(F.col("ssa"), F.col("ssb")))
    agree = _sig_agree()
    paired = (
        cand.join(za, F.col("doc_a") == F.col("za_id"))
        .join(zb, F.col("doc_b") == F.col("zb_id"))
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            n_common.alias("n_common"),
            (agree / F.lit(float(NUM_HASHES))).alias("est_j"),
        )
    )
    both = paired.select(
        "n_common",
        "est_j",
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("contained"),
                    F.col("doc_b").alias("container"),
                    F.col("na").alias("n_contained"),
                    F.col("nb").alias("n_other"),
                ),
                F.struct(
                    F.col("doc_b").alias("contained"),
                    F.col("doc_a").alias("container"),
                    F.col("nb").alias("n_contained"),
                    F.col("na").alias("n_other"),
                ),
            )
        ).alias("p"),
    ).select("p.*", "n_common", "est_j")
    exact = F.col("n_common") / F.col("n_contained")
    est = (
        F.col("est_j")
        * (F.col("n_contained") + F.col("n_other"))
        / ((1.0 + F.col("est_j")) * F.col("n_contained"))
    )
    return (
        both.select(
            "contained",
            "container",
            F.round(exact, 6).alias("containment"),
            F.round(est, 6).alias("est_containment"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
        .orderBy("contained", "container")
    )


def _d19_sql() -> str:
    cte, agree = _d03_cal_sql_parts()
    return f"""{cte},
cal AS (
  SELECT c.doc_a, c.doc_b,
         za.n AS na, zb.n AS nb,
         LEN(list_intersect(za.hs, zb.hs)) AS n_common,
         ({agree}) / {float(NUM_HASHES)} AS est_j
  FROM cand c
  JOIN sig za ON za.doc_id = c.doc_a
  JOIN sig zb ON zb.doc_id = c.doc_b
),
both_dirs AS (
  SELECT doc_a AS contained, doc_b AS container,
         na AS n_contained, nb AS n_other, n_common, est_j
  FROM cal
  UNION ALL
  SELECT doc_b AS contained, doc_a AS container,
         nb AS n_contained, na AS n_other, n_common, est_j
  FROM cal
)
SELECT contained, container,
       ROUND(CAST(n_common AS DOUBLE) / n_contained, 6) AS containment,
       ROUND(est_j * (n_contained + n_other)
             / ((1.0 + est_j) * n_contained), 6) AS est_containment,
       ROUND(ABS(est_j * (n_contained + n_other)
                 / ((1.0 + est_j) * n_contained)
                 - CAST(n_common AS DOUBLE) / n_contained), 6)
         AS abs_err
FROM both_dirs
ORDER BY contained, container
"""


def _d03_sql() -> str:
    h = _DUCK_H.format(s="s")
    sig_cols = ",\n         ".join(
        f"MIN(({HASH_AS[j]} * {h} + {HASH_BS[j]}) % {MINHASH_PRIME}) AS mh{j}"
        for j in range(NUM_HASHES)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {bi} AS band_id, CONCAT_WS('-', {cols}) AS band_key FROM sig".format(
            bi=bi,
            cols=", ".join(
                f"mh{bi * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for bi in range(BANDS)
    )
    return f"""
WITH {_DUCK_SHINGLES_CTE},
sig AS (
  SELECT doc_id,
         COUNT(*) AS n,
         list(CAST('0x' || SUBSTRING(md5(s), 1, 15) AS BIGINT)) AS hs,
         {sig_cols}
  FROM shingles
  GROUP BY doc_id
),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x
  JOIN bands y ON x.band_id = y.band_id AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, za.n AS na, zb.n AS nb,
         LEN(list_intersect(za.hs, zb.hs)) AS n_common
  FROM cand c
  JOIN sig za ON za.doc_id = c.doc_a
  JOIN sig zb ON zb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard
FROM inter
WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
      >= {MINHASH_JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


SIMHASH_BITS = 64  # two 32-bit halves (simhash_hi, simhash_lo)
_SIMHASH_HALF = SIMHASH_BITS // 2


def simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash_hi, simhash_lo): the 64-bit SimHash per
    document, carried as two non-negative 32-bit halves — d04's core,
    factored out (unsorted) so d06 can lineage-cut it and the scale
    receipt tools measure the exact production frame.

    WIDTH MATTERS, learned three times (d04 r10, m07 r11, d06 r11):
    the original 16-bit fingerprint put 50k+ docs into a 65k-value
    space (P(random pair within hamming<=3) ≈ 1.1e-2 — d06's pair
    graph grew 26x at 10x data); the 32-bit replacement fixed the
    RANDOM-collision rate (~5.6e-7) but its 4x8-bit bands kept a
    256-value band space whose candidate join is ~n²/128 — the exact
    saturation the r11 m07 receipt measured at 50k media, fatal at
    500k. 64 bits give 4x16-bit bands (65,536 values per band,
    occupancy < 1 up to ~65k DISTINCT fingerprints, the deployment
    re-bands beyond); two halves because a single 64-bit value would
    overflow signed BIGINT at bit 63 — both engines carry each half
    as a plain non-negative integer.

    The token hash is the first 16 md5 hex chars split 8/8 into the
    two words (md5 hashes the WHOLE token with uniform bits; the old
    4-char-prefix polynomial capped entropy at ~22 bits and collided
    all tokens sharing a prefix)."""
    fp = simhash_fp_words(spark, sf_dir, 2)
    return fp.select(
        "doc_id",
        F.col("w1").alias("simhash_hi"),
        F.col("w0").alias("simhash_lo"),
    )


def simhash_fp_words(
    spark: SparkSession, sf_dir: str, n_words: int = 2
) -> DataFrame:
    """(doc_id, w0..w{n-1}): the width-general SimHash builder behind
    :func:`simhash_fp` — ``32 * n_words`` fingerprint bits as
    non-negative 32-bit words, word ``k`` from md5 hex chars
    [1+8k, 8+8k] of each token (md5 = 32 hex chars, so up to 4 words
    / 128 bits per token hash). The width knob made PRODUCTION code,
    completing what the shared ``banded_hamming_pairs`` core started
    (round 11): a deployment past ~65k distinct fingerprints — where
    16-bit bands saturate; RECEIPT_SF10 measured 41.38M band
    candidates for the 2-word SimHash layout at ~496k distinct
    (d06 x100) vs 626k for the 4-word layout —
    switches to ``simhash_fp_words(spark, sf, 4)`` +
    ``banded_hamming_pairs(fp, ['w0','w1','w2','w3'], 4, 3)`` and
    everything downstream is unchanged.

    PREFIX-CLOSED in words: bit b's vote reads token-hash word
    ``b // 32``, so (w0, w1) of the 4-word fingerprint equals the
    2-word fingerprint exactly (w0 = simhash_lo, w1 = simhash_hi) —
    pinned by tests/test_llm_invariants.py; a width migration can
    therefore re-derive the narrow fingerprint from stored wide ones
    without touching the corpus."""
    if not 1 <= n_words <= 4:
        raise ValueError(
            f"n_words={n_words}: md5's 32 hex chars bound the token "
            "hash at 4x32 bits (use a longer token digest to go wider)"
        )
    bits = 32 * n_words
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    # 8 hex chars of md5 per word = 32 uniform bits, non-negative longs
    md5 = F.md5(F.col("tok"))
    for w in range(n_words):
        toks = toks.withColumn(
            f"th{w}",
            F.conv(F.substring(md5, 1 + 8 * w, 8), 16, 10).cast("long"),
        )

    def vote(b: int):
        word = F.col(f"th{b // 32}")
        return F.sum(
            F.when(
                F.shiftright(word, b % 32).bitwiseAND(1) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{b}")

    votes = toks.groupBy("doc_id").agg(*[vote(b) for b in range(bits)])

    def word(w: int):
        out = None
        for i in range(32):
            bit = F.when(
                F.col(f"v{32 * w + i}") > 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            out = bit if out is None else out + bit
        return out.cast("long")

    return votes.select(
        "doc_id", *[word(w).alias(f"w{w}") for w in range(n_words)]
    )


def d04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per-token md5-prefix hash, per-bit majority vote over
    the document's tokens -> 64-bit fingerprint as two 32-bit words.
    Explode + one groupBy with 64 conditional sums — pure JVM
    aggregation. Width/layout rationale: :func:`simhash_fp`."""
    return simhash_fp(spark, sf_dir).orderBy("doc_id")


def _d04_sql() -> str:
    # md5-prefix token hash split into two 32-bit words, the Spark
    # side's exact twin ('0x'||hex cast is the m07 cross-engine idiom)
    votes = ",\n         ".join(
        f"SUM(CASE WHEN ({'th_lo' if b < _SIMHASH_HALF else 'th_hi'}"
        f" >> {b % _SIMHASH_HALF}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )

    def combine(lo_bit: int) -> str:
        return " + ".join(
            f"(CASE WHEN v{lo_bit + i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(_SIMHASH_HALF)
        )

    return f"""
WITH toks AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id,
         CAST('0x' || SUBSTRING(md5(tok), 1, 8) AS BIGINT) AS th_lo,
         CAST('0x' || SUBSTRING(md5(tok), 9, 8) AS BIGINT) AS th_hi
  FROM toks WHERE LENGTH(tok) > 0
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed
  GROUP BY doc_id
)
SELECT doc_id,
       CAST({combine(_SIMHASH_HALF)} AS BIGINT) AS simhash_hi,
       CAST({combine(0)} AS BIGINT) AS simhash_lo
FROM votes
ORDER BY doc_id
"""


SIMHASH_HAMMING_MAX = 3
SIMHASH_BANDS = 4  # pigeonhole: hamming<=3 ⇒ ≥1 of 4 bands identical
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
_SIMHASH_HALF_BANDS = SIMHASH_BANDS // 2


def d06_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairing: DISTINCT fingerprints block on
    16-bit bands (pigeonhole guarantees recall for hamming ≤ 3),
    verified with exact popcount(xor) per half; fingerprint pairs
    expand back to doc pairs, and identical-fingerprint groups pair
    by a plain (hi, lo) self-join — the m07 shape applied to text.

    Two r11 changes, both receipted (RECEIPT_GRAPHS/RECEIPT_SF10):
    (1) banding runs over DISTINCT fingerprints, never doc rows —
        exact-duplicate documents (the dominant real-world case)
        cost output-size, not occupancy², in the candidate join;
    (2) 64-bit width makes the band space 65,536 values (the 32-bit
        variant's 256-value bands were ~n²/128 in the candidate
        join — the m07 defect one module over).
    The shuffle key is still tiny (two 4-byte words) and verify is
    four ALU ops. Width history: :func:`simhash_fp`."""
    from kafka2clickhouse_py_streamer_spark.functions.graph import (
        iter_materialize,
    )

    from kafka2clickhouse_py_streamer_spark.functions.hamming_lsh import (
        banded_hamming_pairs,
    )

    # (doc_id, hi, lo) is referenced FIVE times downstream (the
    # distinct banding chain, both sides of the fingerprint→doc
    # expansion, both sides of the identical-fingerprint self-join);
    # the cut is 24 bytes/row (m07's reasoning verbatim)
    fp = iter_materialize(simhash_fp(spark, sf_dir))
    return banded_hamming_pairs(
        fp,
        ["simhash_hi", "simhash_lo"],
        SIMHASH_BANDS,
        SIMHASH_HAMMING_MAX,
    ).orderBy("doc_a", "doc_b")


def _d06_sql() -> str:
    d04_core = _d04_sql().strip().rstrip()
    # reuse d04's CTE chain, re-rooted as a fingerprint relation
    core = d04_core[: d04_core.rindex("SELECT doc_id")]
    hi_combine = " + ".join(
        f"(CASE WHEN v{_SIMHASH_HALF + i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_HALF)
    )
    lo_combine = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_HALF)
    )

    def band_val(j: int) -> str:
        # hi-first, matching the production banded_hamming_pairs call
        # with word_cols ['simhash_hi', 'simhash_lo'] (round-11
        # advice: band_id must mean the same band everywhere)
        w = "simhash_hi" if j < _SIMHASH_HALF_BANDS else "simhash_lo"
        return (
            f"({w} >> {(j % _SIMHASH_HALF_BANDS) * SIMHASH_BAND_BITS})"
            f" & {(1 << SIMHASH_BAND_BITS) - 1}"
        )

    bands = "\n  UNION ALL\n".join(
        f"  SELECT simhash_hi, simhash_lo, {j} AS band_id,"
        f" {band_val(j)} AS band_val FROM hu"
        for j in range(SIMHASH_BANDS)
    )
    ham = "bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))"
    return f"""{core.rstrip()},
fp AS (
  SELECT doc_id,
         CAST({hi_combine} AS BIGINT) AS simhash_hi,
         CAST({lo_combine} AS BIGINT) AS simhash_lo
  FROM votes
),
hu AS (
  SELECT DISTINCT simhash_hi, simhash_lo FROM fp
),
bands AS (
{bands}
),
hp AS (
  SELECT hi_a, lo_a, hi_b, lo_b,
         CAST({ham} AS BIGINT) AS hamming
  FROM (
    SELECT DISTINCT x.simhash_hi AS hi_a, x.simhash_lo AS lo_a,
                    y.simhash_hi AS hi_b, y.simhash_lo AS lo_b
    FROM bands x
    JOIN bands y ON x.band_id = y.band_id AND x.band_val = y.band_val
                AND (y.simhash_hi > x.simhash_hi
                     OR (y.simhash_hi = x.simhash_hi
                         AND y.simhash_lo > x.simhash_lo))
  )
  WHERE {ham} <= {SIMHASH_HAMMING_MAX}
),
allpairs AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
         GREATEST(a.doc_id, b.doc_id) AS doc_b,
         f.hamming
  FROM hp f
  JOIN fp a ON a.simhash_hi = f.hi_a AND a.simhash_lo = f.lo_a
  JOIN fp b ON b.simhash_hi = f.hi_b AND b.simhash_lo = f.lo_b
  UNION ALL
  SELECT g1.doc_id AS doc_a, g2.doc_id AS doc_b,
         CAST(0 AS BIGINT) AS hamming
  FROM fp g1
  JOIN fp g2 ON g2.simhash_hi = g1.simhash_hi
            AND g2.simhash_lo = g1.simhash_lo
            AND g2.doc_id > g1.doc_id
)
SELECT doc_a, doc_b, hamming
FROM allpairs
ORDER BY doc_a, doc_b
"""


DEDUP_CC_MAX_ITERS = 20

# Converged labels per sf_dir, a ``"cc_labels"`` session substrate
# (``session.substrate``): d08 consumes d07's output, and recomputing
# the whole iterative loop (plus d06's band join feeding it) for the
# policy step doubles the most expensive family's wall time. The frame
# is already cut by connected_components' iter_materialize, so reuse
# costs nothing, and the fixture paths are immutable. Keyed on the run's
# applicationId, so a new context never sees another's checkpoints.
def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substrate(
        spark, "cc_labels", sf_dir, lambda: _compute_cc_labels(spark, sf_dir)
    )


def d07_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the d06 SimHash
    pair graph via large-star/small-star contraction
    (``functions/graph.py``; Kiveris et al., SoCC'14). Every document
    gets ``cluster_id`` = the smallest doc_id reachable through
    near-dup edges; keeping one doc per cluster is the dedup policy
    step.

    Round-3's one-hop min-label propagation needed O(component
    diameter) rounds — the one super-linear loop left in the engine
    (a crawl-snapshot chain of length 10k would take 10k shuffle
    rounds). Star contraction collapses paths multiplicatively:
    measured on a 256-node chain (diameter 255), 9 rounds — ~log2 plus
    the fixed-point confirmation round
    (``tests/test_skew.py::test_star_contraction_chain_round_count``).
    The loop still runs ONLY over the active set — nodes with at least
    one edge — because an isolated document's label can never change;
    the full corpus joins back once after convergence. At 100 TB only
    (long, long) edge pairs ever cross the wire, never bodies.
    """
    return _cc_labels(spark, sf_dir).orderBy("doc_id")


def _compute_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka2clickhouse_py_streamer_spark.functions.graph import (
        connected_components,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    edges = d06_simhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    # Raises rather than truncating: a partial contraction would hand
    # partial clusters to d08 (corrupting retention stats) while the
    # oracle computes the full closure.
    labels, _rounds = connected_components(
        edges, max_iters=DEDUP_CC_MAX_ITERS
    )
    # Re-attach isolated documents (no edges → own label) in one join.
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )


def _d07_sql() -> str:
    """Oracle: transitive closure via a recursive CTE over the same d06
    pair graph; MIN(reachable label) per node = the component id."""
    d06 = _d06_sql().strip()
    cut = d06.rindex("SELECT doc_a")
    ctes = d06[len("WITH"):cut].rstrip().rstrip(",")
    pair_select = d06[cut:].split("ORDER BY")[0].rstrip()
    return f"""
WITH RECURSIVE {ctes},
pairs AS (
  {pair_select}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl
  FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, MIN(lbl) AS cluster_id
FROM reach
GROUP BY node
ORDER BY doc_id
"""


def d08_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *policy* step, end to end: cluster near-dups (d07),
    keep exactly one document per cluster (the smallest doc_id — the
    cluster label itself), and report per-source retention. This is the
    operator a corpus pipeline actually runs; d03-d07 are its stages.

    Plan shape: d07's labels frame (|docs| rows) joins documents on
    doc_id — one shuffle — then a hash agg on source. The keep
    predicate ``doc_id = cluster_id`` needs no extra pass because the
    canonical member IS the label. The labels frame is the cached
    converged result (see ``_cc_labels``) — running d07 then d08 in one
    session computes the propagation loop once."""
    labels = _cc_labels(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    kept = F.when(F.col("doc_id") == F.col("cluster_id"), 1).otherwise(0)
    return (
        d.join(labels, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum(kept)).cast("long").alias("n_removed"),
        )
        .orderBy("source")
    )


def _d08_sql() -> str:
    d07 = _d07_sql().strip()
    cc = d07[: d07.rindex("SELECT node")].rstrip()
    return f"""{cc},
cc AS (
  SELECT node AS doc_id, MIN(lbl) AS cluster_id
  FROM reach
  GROUP BY node
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN d.doc_id = cc.cluster_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(CASE WHEN d.doc_id = cc.cluster_id
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM documents d
JOIN cc ON cc.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""


def d05_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicates: cosine >= threshold within the same
    label block (blocking bounds the pair count; the unblocked version is
    the LSH job in similarity.py). Dot/norms via JVM higher-order fns in
    strict index order for oracle bit-parity."""
    em = valid_embeddings(table(spark, sf_dir, "embeddings"), EMB_DIM)
    vec_d = to_double_vec("embedding")
    base = em.select(
        "vec_id", "label", vec_d.alias("v"), l2_norm(vec_d).alias("norm")
    )
    a = base.alias("a")
    b = base.alias("b")
    cos = cosine("a.v", "b.v", "a.norm", "b.norm")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEARDUP_COSINE)
        .orderBy("vec_a", "vec_b")
    )


D05_SQL = f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(64)}
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       ROUND(list_dot_product(a.v, b.v)
             / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))),
             6) AS cosine
FROM base a
JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v)
            / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))),
            6) >= {NEARDUP_COSINE}
ORDER BY vec_a, vec_b
"""


# --- d09: benchmark contamination check -----------------------------
#
# Decontamination is the dedup family's sibling in a training pipeline:
# before training, every corpus document is screened for n-gram overlap
# against the evaluation/benchmark set, and contaminated documents are
# dropped so benchmark scores measure generalization, not memorization.
# Here the "benchmark" is the src0 slice of ``documents`` (a stand-in
# for an eval suite); the corpus is everything else.

CONTAM_MIN_OVERLAP = 0.05  # report floor (keeps the noise tail out)
CONTAM_FLAG = 0.5  # contamination verdict threshold


def d09_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: for each corpus doc, the
    benchmark doc sharing the most word-3-shingles, with overlap =
    |shared| / |corpus doc shingles|; flagged when overlap >= 0.5.

    Scale shape: the corpus↔benchmark shingle equi-join is an
    inverted-index probe — the benchmark side is tiny relative to the
    corpus (an eval suite is KBs-to-MBs against 100 TB), so Spark
    broadcasts it and the corpus NEVER shuffles: one scan, a broadcast
    hash join on the shingle, one partial+final agg on (doc, bench)
    pairs bounded by actual collisions. The best-match pick is a
    row_number over the per-doc candidate list (small), never a global
    sort."""
    sh = _shingle_rows(spark, sf_dir)
    bench = sh.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    corpus = sh.filter(F.col("source") != "src0").select("doc_id", "s")
    # row-local sizes (round 13): one scan + one array build per doc
    # replaces the explode→groupBy pass (`_shingle_sizes`), and the
    # aggregated (doc, bench) candidate frame — bounded by actual
    # benchmark shingle collisions — broadcasts into the enrich join,
    # so the sizes side never shuffles
    sizes = _shingle_sizes(spark, sf_dir).filter(
        F.col("source") != "src0"
    ).select("doc_id", "n")
    inter = (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    from pyspark.sql.window import Window

    raw = F.col("n_common") / F.col("n")
    best = Window.partitionBy("doc_id").orderBy(
        F.col("n_common").desc(), F.col("bench_id").asc()
    )
    return (
        inter.join(sizes, "doc_id")
        .withColumn("rk", F.row_number().over(best))
        .filter((F.col("rk") == 1) & (raw >= CONTAM_MIN_OVERLAP))
        .select(
            "doc_id",
            "bench_id",
            "n_common",
            F.round(raw, 6).alias("overlap"),
            (raw >= CONTAM_FLAG).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


D09_SQL = f"""
WITH {_DUCK_SHINGLES_CTE},
bench AS (SELECT doc_id AS bench_id, s FROM shingles WHERE source = 'src0'),
corpus AS (SELECT doc_id, s FROM shingles WHERE source <> 'src0'),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM corpus GROUP BY doc_id),
inter AS (
  SELECT c.doc_id, b.bench_id, COUNT(*) AS n_common
  FROM corpus c JOIN bench b ON b.s = c.s
  GROUP BY c.doc_id, b.bench_id
),
ranked AS (
  SELECT i.doc_id, i.bench_id, i.n_common, sz.n,
         ROW_NUMBER() OVER (PARTITION BY i.doc_id
                            ORDER BY i.n_common DESC, i.bench_id ASC) AS rk
  FROM inter i JOIN sizes sz ON sz.doc_id = i.doc_id
)
SELECT doc_id, bench_id, n_common,
       ROUND(CAST(n_common AS DOUBLE) / n, 6) AS overlap,
       CAST(n_common AS DOUBLE) / n >= {CONTAM_FLAG} AS contaminated
FROM ranked
WHERE rk = 1 AND CAST(n_common AS DOUBLE) / n >= {CONTAM_MIN_OVERLAP}
ORDER BY doc_id
"""


def d13_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d08's retention policy upgraded from "keep min doc_id" to "keep
    the BEST document per near-dup cluster": within each d07 component,
    the survivor is the doc with the highest t02 quality score (doc_id
    tiebreak). The policy a production corpus actually wants — near-dup
    groups routinely contain one clean copy and N mojibake/boilerplate
    variants, and min-id keeps whichever crawled first.

    Scale shape: labels (|docs| rows of two longs) join documents once,
    the per-cluster argmax is a max_by(struct) hash aggregate — partial
    map-side, no window sort — and the score is a row-local codegen
    projection. Reuses the session-cached converged d07 labels, so
    running d07/d08/d13 together pays for contraction once."""
    from kafka2clickhouse_py_streamer_spark.llm.text import quality_score_col

    labels = _cc_labels(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.round(quality_score_col(), 2).alias("q")
    )
    scored = d.join(labels, "doc_id")
    # argmax by (quality, -doc_id): max_by on a struct compares
    # field-by-field, so the negated id breaks score ties toward the
    # SMALLEST doc_id — deterministic on both engines.
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.expr("max_by(doc_id, struct(q, -doc_id))").alias("kept_doc"),
            F.max("q").alias("kept_quality"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .orderBy("cluster_id")
    )


def _d13_sql() -> str:
    from kafka2clickhouse_py_streamer_spark.llm.text import QUALITY_SCORE_SQL

    d07 = _d07_sql().strip()
    cc = d07[: d07.rindex("SELECT node")].rstrip()
    return f"""{cc},
cc AS (
  SELECT node AS doc_id, MIN(lbl) AS cluster_id
  FROM reach
  GROUP BY node
),
scored AS (
  SELECT d.doc_id, cc.cluster_id, ROUND({QUALITY_SCORE_SQL}, 2) AS q
  FROM documents d JOIN cc ON cc.doc_id = d.doc_id
),
ranked AS (
  SELECT cluster_id, doc_id, q,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY q DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM scored
)
SELECT cluster_id, doc_id AS kept_doc, q AS kept_quality,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
ORDER BY cluster_id
"""


BLOOM_BITS = 1024  # d18 filter width (deliberately small so the
# fixture SHOWS false positives instead of hiding them)
BLOOM_K = 3  # hash functions


def _bloom_pos(j: int, h):
    """Bit position j of a 60-bit shingle digest: the shared affine
    family (functions.hashing.affine_bucket — same construction w12's
    count-min grid uses)."""
    from kafka2clickhouse_py_streamer_spark.functions import (
        affine_bucket,
    )

    return affine_bucket(h, j, BLOOM_BITS)


def d18_bloom_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-filter decontamination probe — the FIXED-SIZE fast path
    of d09's exact screen: the eval set's shingle digests populate a
    BLOOM_BITS-bit filter (k affine hash positions, distinct-bit
    aggregate), and every corpus shingle tests membership by joining
    its k positions against the set bits (a hit = all k present).
    Per-doc audit columns compare against exact membership in the
    same eval shingle set: Bloom guarantees NO false negatives
    (n_bloom_hits ≥ n_true_hits — pinned by the invariants suite);
    fp_shingles measures the collision cost of the chosen width.

    Scale shape: d09 broadcasts the eval SHINGLE SET, which at a real
    eval-suite size is MBs-to-GBs; the Bloom filter is a fixed
    ≤ BLOOM_BITS-row bit table (bytes) whatever the eval set grows to
    — the probe stays one broadcast semi-join per hash row with a
    count==k test, and the corpus side still never shuffles. The
    audit's exact join exists only to measure the FP rate; a
    deployment ships the bits alone."""
    sh = _shingle_rows(spark, sf_dir).select(
        "doc_id", "source", shingle_digest("s").alias("hs")
    )
    bench = sh.filter(F.col("source") == "src0").select("hs").distinct()
    bits = (
        bench.select(
            F.explode(
                F.array(
                    *[
                        _bloom_pos(j, F.col("hs"))
                        for j in range(BLOOM_K)
                    ]
                )
            ).alias("bit")
        )
        .distinct()
    )
    corpus = sh.filter(F.col("source") != "src0").select("doc_id", "hs")
    probe = corpus.select(
        "doc_id",
        "hs",
        F.explode(
            F.array(*[_bloom_pos(j, F.col("hs")) for j in range(BLOOM_K)])
        ).alias("bit"),
    )
    hits = (
        probe.join(F.broadcast(bits), "bit")
        .groupBy("doc_id", "hs")
        .agg(F.count(F.lit(1)).alias("k_set"))
        .filter(F.col("k_set") == BLOOM_K)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )
    true_hits = (
        corpus.join(F.broadcast(bench), "hs", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_true_hits"))
    )
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    nb = F.coalesce("n_bloom_hits", F.lit(0))
    nt = F.coalesce("n_true_hits", F.lit(0))
    return (
        sizes.join(hits, "doc_id", "left")
        .join(true_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_shingles"),
            nb.cast("long").alias("n_bloom_hits"),
            nt.cast("long").alias("n_true_hits"),
            (nb - nt).cast("long").alias("fp_shingles"),
            (nb / F.col("n") >= CONTAM_FLAG).alias("bloom_flagged"),
            (nt / F.col("n") >= CONTAM_FLAG).alias("true_flagged"),
        )
        .orderBy("doc_id")
    )


def _d18_sql() -> str:
    from kafka2clickhouse_py_streamer_spark.functions import (
        affine_bucket_sql,
    )

    def pos(j, h):
        return affine_bucket_sql(h, j, BLOOM_BITS)

    bit_rows = "\nUNION ALL\n".join(
        f"SELECT {pos(j, 'hs')} AS bit FROM bench"
        for j in range(BLOOM_K)
    )
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, hs, {pos(j, 'hs')} AS bit FROM corpus"
        for j in range(BLOOM_K)
    )
    return f"""
WITH {_DUCK_SHINGLES_CTE},
hashed AS (
  SELECT doc_id, source, {shingle_digest_sql('s')} AS hs
  FROM shingles
),
bench AS (SELECT DISTINCT hs FROM hashed WHERE source = 'src0'),
corpus AS (SELECT doc_id, hs FROM hashed WHERE source <> 'src0'),
bits AS (SELECT DISTINCT bit FROM (
{bit_rows}
)),
probe AS (
{probe_rows}
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_bloom_hits
  FROM (
    SELECT p.doc_id, p.hs, COUNT(*) AS k_set
    FROM probe p JOIN bits b ON b.bit = p.bit
    GROUP BY p.doc_id, p.hs
    HAVING COUNT(*) = {BLOOM_K}
  )
  GROUP BY doc_id
),
true_hits AS (
  SELECT c.doc_id, COUNT(*) AS n_true_hits
  FROM corpus c
  WHERE c.hs IN (SELECT hs FROM bench)
  GROUP BY c.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM corpus GROUP BY doc_id)
SELECT s.doc_id,
       CAST(s.n AS BIGINT) AS n_shingles,
       CAST(COALESCE(h.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
       CAST(COALESCE(t.n_true_hits, 0) AS BIGINT) AS n_true_hits,
       CAST(COALESCE(h.n_bloom_hits, 0) - COALESCE(t.n_true_hits, 0)
            AS BIGINT) AS fp_shingles,
       CAST(COALESCE(h.n_bloom_hits, 0) AS DOUBLE) / s.n
         >= {CONTAM_FLAG} AS bloom_flagged,
       CAST(COALESCE(t.n_true_hits, 0) AS DOUBLE) / s.n
         >= {CONTAM_FLAG} AS true_flagged
FROM sizes s
LEFT JOIN hits h ON h.doc_id = s.doc_id
LEFT JOIN true_hits t ON t.doc_id = s.doc_id
ORDER BY s.doc_id
"""


CONTAINMENT_THRESHOLD = 0.5  # d17: fraction of the SMALLER side's
# shingles that must appear in the other doc


def d17_containment_pairs(
    spark: SparkSession, sf_dir: str, max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Asymmetric containment near-dup detection (Broder's containment
    C(A→B) = |A∩B| / |A|): catches a document EMBEDDED in a larger one
    — quoted mails, syndicated articles wrapped in boilerplate — where
    symmetric Jaccard (d02) is diluted by the larger side's size and
    never fires. Every ordered pair with containment ≥ threshold is
    reported as (contained, container).

    Scale shape: d11's, not d02's — shingles whose document frequency
    exceeds ``max_df`` are semi-joined away BEFORE the pair join
    (round-5 verdict: the uncapped index let one boilerplate shingle
    shared by f docs emit f² candidate rows — the skewed-key
    scale-killer at 100 TB). Containment is then measured over the
    FILTERED shingle sets (denominator included), mirrored exactly by
    the oracle; with ``max_df`` above the corpus size this degrades to
    the uncapped measure precisely. Candidate pairs come from the
    capped inverted-index equi-join (never a cross join), the
    intersection is a count aggregate, and each unordered pair is
    joined/sized ONCE then exploded into its two directions row-wise
    (a row-local explode, not a second pair join). The signature-only
    alternative (d03 band candidates + d19's Broder estimate) is the
    documented at-scale admission path — see SCALE.md §d17; d19's
    calibration decides when its error bound is acceptable."""
    # Materialize the capped shingle frame once (round 13): sizes and
    # the two pair-join sides re-derived the whole explode + DF-cap
    # semi-join per consumer. Unlike the minhash band frame (where the
    # same cut measured SLOWER — see `_minhash_sig_and_candidates`),
    # `kept` is expensive enough to flip the trade: A/B medians for
    # the inter join 3.6–4.1 → 3.0–3.2 s at sf0.1. Same
    # iter_materialize cut as s24's edge list. The semi-join shape is
    # pinned on the PRE-CUT frame (`_capped_shingles`) by
    # tests/test_plans.py — the cut hides it from d17's final plan.
    from kafka2clickhouse_py_streamer_spark.functions.graph import (
        iter_materialize,
    )

    sh = iter_materialize(_capped_shingles(spark, sf_dir, max_df))
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
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
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
    return (
        both.filter(raw >= CONTAINMENT_THRESHOLD)
        .select(
            "contained",
            "container",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(raw, 6).alias("containment"),
        )
        .orderBy("contained", "container")
    )


# `hashed` mirrors `_capped_shingles`' digest key (see _d11_sql).
D17_SQL = f"""
WITH {_DUCK_SHINGLES_CTE},
hashed AS (
  SELECT doc_id, {shingle_digest_sql('s')} AS s FROM shingles
),
kept AS (
  SELECT sh.doc_id, sh.s
  FROM hashed sh
  JOIN (SELECT s FROM hashed GROUP BY s
        HAVING COUNT(*) <= {MAX_SHINGLE_DF}) ok USING (s)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM kept a
  JOIN kept b ON b.s = a.s AND b.doc_id > a.doc_id
  GROUP BY a.doc_id, b.doc_id
),
both_dirs AS (
  SELECT i.doc_a AS contained, i.doc_b AS container,
         sa.n AS n_contained, i.n_common
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
  UNION ALL
  SELECT i.doc_b AS contained, i.doc_a AS container,
         sb.n AS n_contained, i.n_common
  FROM inter i JOIN sizes sb ON sb.doc_id = i.doc_b
)
SELECT contained, container,
       CAST(n_common AS BIGINT) AS n_common,
       ROUND(CAST(n_common AS DOUBLE) / n_contained, 6) AS containment
FROM both_dirs
WHERE CAST(n_common AS DOUBLE) / n_contained >= {CONTAINMENT_THRESHOLD}
ORDER BY contained, container
"""


SPAN_W = 8  # tokens per d12 span window

# SINGLE SOURCE for the span hash — d16's removal is only correct while
# its span definition matches d12's detection exactly (same lesson as
# s12/s13's shared _pq_sub_dist). Spark: array of md5 window hashes
# carried as 16-byte BINARY (``unhex``) over a token-array column
# ``t``; SQL: the scalar hex hash of the window starting at 1-based
# position i over the same ``t``.
#
# The binary carrier is a round-14 byte cut (guide §2.3): every span
# consumer shuffles one row per span OCCURRENCE keyed by this value —
# d12's count-distinct expand and the d16/p14 dup-detect windows — and
# md5 hex is incompressible to lz4 (random bytes, no matches), so the
# 32-char string paid its full width on the wire. ``unhex`` is
# INJECTIVE: grouping/windowing by the binary is exactly grouping by
# the hex string (no collision risk, unlike a truncated digest), the
# oracle twins keep hashing the hex scalar, and d12 re-hexes only its
# post-filter output rows (``lower(hex(x)) ≡ x`` for lowercase-hex x).
# Measured at sf1 (cold single-run REST receipts): d12 shuffle write
# 169.1 → 104.5 MB, p14 101.0 → 69.0 MB. Walls: d12 interleaved A/B
# 2.35 → 2.02 s at sf1 / 1.56 → 1.45 s at sf0.1 (rows bit-identical,
# 105 330 pairs checked); p14 within its cross-session band (the span
# window is a minority of its wall). Receipts in OPTIMIZATION_r14.md.
SPAN_HASHES_EXPR = (
    f"transform(sequence(1, size(t) - {SPAN_W} + 1), "
    f"i -> unhex(md5(concat_ws(' ', slice(t, i, {SPAN_W})))))"
)
SPAN_HASH_SQL = f"MD5(array_to_string(t[i : i + {SPAN_W - 1}], ' '))"


def d12_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup signal: every ``SPAN_W``-token window of
    every document is hashed, and spans appearing in >= 2 DISTINCT
    documents are reported with occurrence counts. This is the
    detection half of exact-substring training-data dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    their ExactSubstr uses a suffix array on one machine; the
    data-parallel reformulation is hash-blocked span grouping).

    Scale shape: explode factor is ~|tokens| per doc, same class as
    d02's shingle explode, but the aggregate is count-only — hot spans
    (boilerplate) grow a GROUP, never a pair join, so there is no k²
    blowup anywhere (contrast d02's pair join, which needs d11's DF
    cap). Shuffle payload is a 128-bit digest + doc_id per span. A
    deployment that also needs the span positions would carry the
    offset column through the same plan.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    ).filter(
        (F.length(F.trim("text")) > 0) & (F.size("t") >= SPAN_W)
    )
    spans = toks.select(
        "doc_id", F.explode(F.expr(SPAN_HASHES_EXPR)).alias("span")
    )
    # group on the 16-byte binary, re-hex only the surviving rows:
    # lower(hex(unhex(h))) ≡ h for the lowercase hex md5 produces, and
    # lexicographic order on lowercase hex equals unsigned byte order,
    # so the output rows AND their sort are bit-identical to grouping
    # on the hex string — at half the bytes through the count-distinct
    # expand, the query's only big exchange (SPAN_HASHES_EXPR note).
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.lower(F.hex("span")).alias("span"),
            "n_docs",
            "n_occurrences",
            "first_doc",
        )
        .orderBy("span")
    )


D12_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS t
  FROM documents WHERE LENGTH(TRIM(text)) > 0
),
eligible AS (SELECT doc_id, t FROM toks WHERE LEN(t) >= {SPAN_W}),
spans AS (
  SELECT doc_id, {SPAN_HASH_SQL} AS span
  FROM (SELECT doc_id, t,
               UNNEST(generate_series(1, LEN(t) - {SPAN_W - 1})) AS i
        FROM eligible)
)
SELECT span,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       MIN(doc_id) AS first_doc
FROM spans
GROUP BY span
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY span
"""


def _span_scrubbed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span removal, as a reusable frame: one row per
    document with ``(doc_id, n_tokens, n_kept, n_removed, body)``
    where ``body`` is the whitespace-normalized text rebuilt from the
    tokens that survive d12-span excision (empty string when nothing
    survives). SINGLE SOURCE for d16 (the audit projection) and p14
    (the detection→removal→repack pipeline) — the two consumers must
    never disagree on what "scrubbed" means.

    Every ``SPAN_W``-token window appearing in ≥2 distinct documents
    keeps its occurrences in the FIRST document (min doc_id) and is
    excised everywhere else — token positions covered by any removed
    span are dropped and the document is rebuilt from the survivors.
    Pessimistic at span OVERLAPS: a canonical occurrence's positions
    can still be excised when a DIFFERENT duplicated span covering
    them was removed, so a phrase straddling two overlapping
    duplicated spans may survive in no document — the price of a
    join-free single-pass policy (an occurrence-level resolution would
    need iterative conflict resolution).

    Scale shape: tokens and spans are linear explodes of the corpus
    (digests + positions cross the wire, never bodies); duplicated
    spans come from d12's count-only hash aggregate (no pair join);
    the covered-position set is ≤ SPAN_W × |removed occurrences|; the
    rebuild is one per-doc hash aggregate (array_sort over collected
    (pos, token) structs ≡ the oracle's string_agg ORDER BY pos).
    Null/empty text follows the dedup-family contract (null ≡ empty →
    zero tokens, body '')."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+").alias("t"),
    )
    tokens = (
        base.select(
            "doc_id", F.posexplode("t").alias("idx", "tok")
        )
        .filter(F.length("tok") > 0)
        .select("doc_id", (F.col("idx") + 1).alias("pos"), "tok")
    )
    eligible = base.filter(F.size("t") >= SPAN_W)
    spans = eligible.select(
        "doc_id",
        F.posexplode(F.expr(SPAN_HASHES_EXPR)).alias("idx", "span"),
    ).select("doc_id", (F.col("idx") + 1).alias("i"), "span")
    # removed occurrences via ONE span-keyed window instead of
    # groupBy + join-back — min(doc_id) ≠ max(doc_id) over the span
    # partition ⟺ "≥2 distinct docs", and first_doc is that min; the
    # join form evaluated the spans explode twice (round 13, the d14
    # lesson — same rewrite as `_span_scrub_counts`)
    ws = Window.partitionBy("span")
    covered = (
        spans.withColumn("mn", F.min("doc_id").over(ws))
        .withColumn("mx", F.max("doc_id").over(ws))
        .filter(
            (F.col("mn") != F.col("mx")) & (F.col("doc_id") != F.col("mn"))
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (SPAN_W - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tokens.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("body"),
    )
    # n_tokens is row-local on the token ARRAY (no second corpus
    # explode+shuffle just to count): size of the non-empty tokens
    spine = base.select(
        "doc_id",
        F.size(
            F.filter("t", lambda x: F.length(x) > 0)
        ).cast("long").alias("n_tokens"),
    )
    return spine.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        (
            F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))
        ).cast("long").alias("n_removed"),
        F.coalesce("body", F.lit("")).alias("body"),
    )


def _span_scrub_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_span_scrubbed`'s COUNTS, without the body rebuild: one row per
    document with ``(doc_id, n_tokens, n_kept, n_removed)`` — exactly
    the columns p14 consumes. Same policy, same numbers (pinned by
    ``tests/test_adversarial.py::test_span_scrub_counts_match_scrubbed``),
    but the token stream never explodes and never shuffles:

    - `_span_scrubbed` materializes every (doc_id, pos, tok) row,
      anti-joins the covered positions, and re-aggregates tokens per
      doc — two exchanges carrying one row PER TOKEN (round-13
      measurement: 38 exchanges / 5.3 s at sf0.1 for p14).
    - Here the removed-span occurrences are the ONLY rows that move:
      all positions covered by removed spans form a union of
      fixed-width intervals ``[i, i+SPAN_W-1]``, whose size per doc is
      ``SPAN_W + Σ min(i_k − i_{k−1}, SPAN_W)`` over the sorted starts
      — one window + one agg over |removed occurrences| rows (a small
      fraction of |tokens|), then ``n_kept = n_tokens − n_covered``
      row-locally against the spine. Equality holds because every
      covered position of an eligible doc is a real (non-empty) token:
      eligible docs (≥ SPAN_W tokens) have non-empty text, and
      whitespace-split of trimmed non-empty text yields no empty
      tokens — the same invariant `_span_scrubbed`'s tokens filter
      relies on. p14 at sf0.1: 5.288 → 2.320 s over the round's three
      p14 changes (OPTIMIZATION_r13.md §3/§8/§9); at sf1 6.890 →
      3.229 s (BENCH_sf1.json). The shuffle payload drops from one row
      per token to one row per removed span occurrence at every
      scale."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+").alias("t"),
    )
    eligible = base.filter(F.size("t") >= SPAN_W)
    spans = eligible.select(
        "doc_id",
        F.posexplode(F.expr(SPAN_HASHES_EXPR)).alias("idx", "span"),
    ).select("doc_id", (F.col("idx") + 1).alias("i"), "span")
    # removed occurrences via ONE span-keyed window instead of
    # groupBy + join-back (the join form evaluates the spans explode —
    # every window md5 — twice, once per side; the d14 lesson).
    # "duplicated across ≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id)
    # over the span partition, and first_doc is that min — identical
    # row set, one exchange. Hot-span exposure is unchanged (the join
    # also moved every occurrence of a span to one task).
    ws = Window.partitionBy("span")
    removed = (
        spans.withColumn("mn", F.min("doc_id").over(ws))
        .withColumn("mx", F.max("doc_id").over(ws))
        .filter(
            (F.col("mn") != F.col("mx")) & (F.col("doc_id") != F.col("mn"))
        )
        .select("doc_id", "i")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    prev = F.lag("i").over(w)
    contrib = F.when(prev.isNull(), F.lit(SPAN_W)).otherwise(
        F.least(F.col("i") - prev, F.lit(SPAN_W))
    )
    covered = (
        removed.withColumn("c", contrib)
        .groupBy("doc_id")
        .agg(F.sum("c").cast("long").alias("n_covered"))
    )
    spine = base.select(
        "doc_id",
        F.size(
            F.filter("t", lambda x: F.length(x) > 0)
        ).cast("long").alias("n_tokens"),
    )
    n_cov = F.coalesce("n_covered", F.lit(0))
    return spine.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - n_cov).cast("long").alias("n_kept"),
        n_cov.cast("long").alias("n_removed"),
    )


def d16_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of exact-substring dedup (d12 is the detection
    half) — `_span_scrubbed`'s policy, projected as an audit: per-doc
    token counts before/after and the fingerprint of the scrubbed text
    (the rebuilt body is what a deployment would write)."""
    return (
        _span_scrubbed(spark, sf_dir)
        .select(
            "doc_id",
            "n_tokens",
            "n_removed",
            F.md5("body").alias("scrubbed_fp"),
        )
        .orderBy("doc_id")
    )


# CTE chain shared by D16_SQL and p14's oracle (llm/sampling.py): the
# SQL twin of `_span_scrubbed` up to the (spine, rebuilt) frames.
_D16_CTE = rf"""base AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(COALESCE(text, '')), '\s+') AS t
  FROM documents
),
tokens AS (
  SELECT doc_id, pos, t[pos] AS tok
  FROM (
    SELECT doc_id, t, UNNEST(generate_series(1, LEN(t))) AS pos
    FROM base
  )
  WHERE LENGTH(t[pos]) > 0
),
spans AS (
  SELECT doc_id, i,
         {SPAN_HASH_SQL} AS span
  FROM (
    SELECT doc_id, t,
           UNNEST(generate_series(1, LEN(t) - {SPAN_W - 1})) AS i
    FROM base WHERE LEN(t) >= {SPAN_W}
  )
),
dup AS (
  SELECT span, MIN(doc_id) AS first_doc
  FROM spans GROUP BY span
  HAVING COUNT(DISTINCT doc_id) >= 2
),
covered AS (
  SELECT DISTINCT s.doc_id, UNNEST(generate_series(s.i, s.i + {SPAN_W - 1}))
           AS pos
  FROM spans s JOIN dup ON dup.span = s.span
  WHERE s.doc_id != dup.first_doc
),
kept AS (
  SELECT tk.doc_id, tk.pos, tk.tok
  FROM tokens tk
  WHERE NOT EXISTS (
    SELECT 1 FROM covered c
    WHERE c.doc_id = tk.doc_id AND c.pos = tk.pos
  )
),
rebuilt AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS body
  FROM kept GROUP BY doc_id
),
spine AS (
  SELECT doc_id,
         CAST(LEN(list_filter(t, x -> LENGTH(x) > 0)) AS BIGINT)
           AS n_tokens
  FROM base
)"""

D16_SQL = rf"""
WITH {_D16_CTE}
SELECT sp.doc_id,
       sp.n_tokens,
       CAST(sp.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       MD5(COALESCE(r.body, '')) AS scrubbed_fp
FROM spine sp
LEFT JOIN rebuilt r ON r.doc_id = sp.doc_id
ORDER BY sp.doc_id
"""


def minhash_band_keys(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Band keys for an ARBITRARY (id, text) frame — the reusable front
    half of the LSH family, shared by the d14 batch predicate and the
    streaming near-dup admission (streaming/corpus_stream.py). Same
    constants and expressions as d03 (tokens → distinct word-3-shingles
    → polynomial hash → 16 affine minhashes → 4 band keys), so a doc
    gets identical band keys whichever path computes them.

    Returns (id_col, band_id, band_key): BANDS rows per document.
    Scale shape: one map-side-combinable hash agg on the id, then a
    BANDS-way explode of the |docs|-sized frame."""
    sh = (
        # null text ≡ empty text (same rule as _DUCK_SHINGLES_CTE)
        df.select(
            F.col(id_col),
            F.expr(tokens_expr(f"coalesce({text_col}, '')")).alias("tk"),
        )
        .select(F.col(id_col), F.explode(F.expr(_SPARK_SHINGLES)).alias("s"))
        .select(
            F.col(id_col),
            F.expr(_SPARK_H.format(s="s")).cast("long").alias("h"),
        )
    )
    sig = sh.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(HASH_AS[j]) * F.col("h") + F.lit(HASH_BS[j]))
                % MINHASH_PRIME
            ).alias(f"mh{j}")
            for j in range(NUM_HASHES)
        ]
    )
    return _explode_bands(sig, id_col)


def d14_lsh_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy LSH admission — the BATCH predicate of the streaming
    near-dup filter (streaming/corpus_stream.py:neardup_admit_batch): a
    document is admitted iff it holds the minimum doc_id in EVERY band
    bucket it occupies; any bucket already claimed by an earlier doc
    (admitted or not) blocks it. One pass, no transitive closure — the
    property that makes the same decision computable incrementally on
    a stream (bucket claims only accumulate), at the cost of being
    more conservative than d07/d08's CC-canonical on chain-shaped
    clusters. Per doc: how many of its bands are blocked, and the
    admission verdict.

    Scale shape: band keys (one hash agg + BANDS-way explode), a
    bucket-min hash agg, an equi-join of the two |docs·BANDS|-sized
    frames on the bucket key, and a per-doc agg — every step
    equi-keyed and map-side combinable; hot (boilerplate) buckets grow
    a group, never a pair join."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    bands = minhash_band_keys(d)
    # Round 13: the bucket minimum is a window MIN over the bucket key
    # instead of a groupBy + self-join — the join form evaluated the
    # whole band-key subtree (shingle explode + 16 minhash aggs)
    # TWICE, once per join side, because the two sides' exchanges
    # differ (one carries the partial agg) and are never reused. One
    # bucket-keyed exchange replaces two + the join; sf0.1 wall
    # 2.10 s → 1.31 s, plan 10 → 6 exchanges. Semantics identical:
    # an unordered window MIN over the full bucket partition is the
    # joined bmin.
    wb = Window.partitionBy("band_id", "band_key")
    return (
        bands.withColumn("bmin", F.min("doc_id").over(wb))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("bmin") < F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_blocked_bands")
        )
        .select(
            "doc_id",
            "n_blocked_bands",
            (F.col("n_blocked_bands") == 0).alias("admitted"),
        )
        .orderBy("doc_id")
    )


def _d14_sql() -> str:
    h = _DUCK_H.format(s="s")
    sig_cols = ",\n         ".join(
        f"MIN(({HASH_AS[j]} * {h} + {HASH_BS[j]}) % {MINHASH_PRIME}) AS mh{j}"
        for j in range(NUM_HASHES)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {bi} AS band_id, CONCAT_WS('-', {cols}) AS band_key FROM sig".format(
            bi=bi,
            cols=", ".join(
                f"mh{bi * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for bi in range(BANDS)
    )
    return f"""
WITH {_DUCK_SHINGLES_CTE},
sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM shingles
  GROUP BY doc_id
),
bands AS (
{band_selects}
),
bmin AS (
  SELECT band_id, band_key, MIN(doc_id) AS bmin
  FROM bands GROUP BY band_id, band_key
)
SELECT b.doc_id,
       CAST(SUM(CASE WHEN m.bmin < b.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_blocked_bands,
       SUM(CASE WHEN m.bmin < b.doc_id THEN 1 ELSE 0 END) = 0 AS admitted
FROM bands b
JOIN bmin m ON m.band_id = b.band_id AND m.band_key = b.band_key
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


def d20_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot corpus diff — the audit a scheduled refresh (p09
    is the admission half) publishes after each run: per source, how
    many documents were ADDED, REMOVED, CHANGED (same id, different
    content fingerprint), and UNCHANGED between two corpus versions.
    Snapshots are derived deterministically from the fixture so both
    engines reproduce them: the previous snapshot lacks doc_id % 10
    == 0 (those are the additions), the current lacks doc_id % 13 ==
    0 (the removals), and doc_id % 7 == 0 carries revised text in the
    current snapshot (the changes).

    Scale shape: ONE full-outer equi-join on the id (both sides carry
    only (doc_id, source, 128-bit fingerprint) — bodies never cross
    the wire) + one hash agg on source. At 100 TB both snapshots are
    parquet scans whose fingerprint projection rides the scan; the
    join shuffles on the uniformly-hashed id, skew-free."""
    d = table(spark, sf_dir, "documents")
    prev = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.col("source").alias("p_source"),
        F.md5("text").alias("p_fp"),
    )
    curr = d.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        "source",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(" rev2")),
            ).otherwise(F.col("text"))
        ).alias("c_fp"),
    )
    j = prev.join(curr, "doc_id", "full_outer")
    status = (
        F.when(F.col("p_fp").isNull(), F.lit("added"))
        .when(F.col("c_fp").isNull(), F.lit("removed"))
        .when(F.col("p_fp") != F.col("c_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce("source", "p_source").alias("source"),
            status.alias("status"),
        )
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("status") == "added", 1).otherwise(0))
            .cast("long").alias("n_added"),
            F.sum(F.when(F.col("status") == "removed", 1).otherwise(0))
            .cast("long").alias("n_removed"),
            F.sum(F.when(F.col("status") == "changed", 1).otherwise(0))
            .cast("long").alias("n_changed"),
            F.sum(F.when(F.col("status") == "unchanged", 1).otherwise(0))
            .cast("long").alias("n_unchanged"),
        )
        .orderBy("source")
    )


D20_SQL = """
WITH prev AS (
  SELECT doc_id, source AS p_source, MD5(text) AS p_fp
  FROM documents WHERE doc_id % 10 <> 0
),
curr AS (
  SELECT doc_id, source,
         MD5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
                  ELSE text END) AS c_fp
  FROM documents WHERE doc_id % 13 <> 0
),
j AS (
  SELECT COALESCE(c.source, p.p_source) AS source,
         CASE WHEN p.p_fp IS NULL THEN 'added'
              WHEN c.c_fp IS NULL THEN 'removed'
              WHEN p.p_fp <> c.c_fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM prev p FULL OUTER JOIN curr c USING (doc_id)
)
SELECT source,
       CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_added,
       CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unchanged
FROM j
GROUP BY source
ORDER BY source
"""


def _ntok_col():
    """Whitespace token count of ``text`` — NULL text counts as 0
    tokens. The ONE definition shared by the d21/d22 policy layer
    (with ``_NTOK_SQL`` as its oracle twin) so the two reports can
    never disagree about the same corpus's token mass."""
    n = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    return F.coalesce(n, F.lit(0)).cast("long")


# DuckDB twin of _ntok_col; format with t=<text column reference>
_NTOK_SQL = (
    r"CAST(COALESCE(CASE WHEN LENGTH(TRIM({t})) = 0 THEN 0"
    r" ELSE LEN(regexp_split_to_array(TRIM({t}), '\s+'))"
    r" END, 0) AS BIGINT)"
)


def d21_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup: instead of dropping near-duplicates (d08/d13's hard
    policy), keep every document and downweight it by its d07 cluster
    size — weight = 1/|cluster|, so each duplicate CLUSTER contributes
    one document's worth of sampling mass (SoftDeDup-style repetition
    reweighting). Emits per-doc weight and effective token mass; the
    sum of ``weight`` IS the effective (deduplicated) corpus size, and
    downstream samplers (p13's PPS line) can consume ``weight``
    directly in place of uniform mass.

    Scale shape: rides the already-converged d07 component labels (the
    star-contraction loop is shared/cached, edges-only on the wire);
    adds ONE count agg on cluster_id plus two equi-joins keyed on
    cluster_id/doc_id. No pair join, no window, nothing quadratic —
    the policy layer costs two hash shuffles over (long, long) rows.

    Cross-engine: weight uses CAST(1 AS DOUBLE)/size (a bare ``1.0``
    is DECIMAL on DuckDB); eff_tokens divides the exact integer token
    count cast to DOUBLE — both engines perform the identical
    double/int division before the round."""
    labels = _cc_labels(spark, sf_dir)
    # cluster size as a WINDOW over the label key (round 14, the d14
    # pattern): the groupBy + join-back form evaluated the labels
    # frame twice (its nodes ⋈ parents tail is not lineage-cut) and
    # paid an extra exchange + hash join; the window reads the count
    # in place off one cluster_id exchange. Every cluster_id present
    # in labels has its own count, so window ≡ the old inner join.
    from pyspark.sql.window import Window

    sized = labels.withColumn(
        "cluster_size",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .cast("long"),
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _ntok_col().alias("ntok")
    )
    return (
        sized.join(docs, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            F.round(
                F.lit(1).cast("double") / F.col("cluster_size"), 6
            ).alias("weight"),
            F.round(
                F.col("ntok").cast("double") / F.col("cluster_size"), 4
            ).alias("eff_tokens"),
        )
        .orderBy("doc_id")
    )


def _d21_sql() -> str:
    d07 = _d07_sql().strip().split("ORDER BY")[0]
    return rf"""
WITH labels AS (
{d07}
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM labels GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       ROUND(CAST(1 AS DOUBLE) / s.cluster_size, 6) AS weight,
       ROUND(CAST({_NTOK_SQL.format(t="d.text")} AS DOUBLE)
             / s.cluster_size, 4) AS eff_tokens
FROM labels l
JOIN sizes s ON s.cluster_id = l.cluster_id
JOIN documents d ON d.doc_id = l.doc_id
ORDER BY l.doc_id
"""


def d22_dedup_roi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI curve — the capacity-planning read of the d07
    components: cluster sizes bucketed by power of two, and per bucket
    how many documents and how much token mass a keep-one-per-cluster
    policy would reclaim. This is the report that justifies (or kills)
    running the dedup pass at all: if reclaimable_tokens concentrates
    in the size-1 bucket (zero), dedup buys nothing; a fat tail of
    large clusters is the budget case for d08/d13.

    Scale shape: d21's policy-layer class — rides the shared d07
    labels, one (cluster_id) hash agg, then a second agg on the ≤
    log2(max cluster) bucket keys. The only FP is power(2, floor(
    log2(size))) on small integers — powers of two are exact doubles,
    so the BIGINT cast cannot hit the Spark-truncates/DuckDB-rounds
    divergence."""
    labels = _cc_labels(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _ntok_col().alias("ntok")
    )
    per_cluster = (
        labels.join(docs, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("csize"),
            F.sum("ntok").cast("long").alias("ctok"),
            F.min_by("ntok", F.col("doc_id")).cast("long").alias("keep_tok"),
        )
    )
    bucket = F.expr("cast(power(2, floor(log2(csize))) as bigint)")
    per_bucket = (
        per_cluster.withColumn("size_bucket", bucket)
        .groupBy("size_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("csize").cast("long").alias("n_docs"),
            F.sum(F.col("csize") - 1).cast("long").alias("n_dup_docs"),
            F.sum("ctok").cast("long").alias("total_tokens"),
            F.sum(F.col("ctok") - F.col("keep_tok")).cast("long")
            .alias("reclaimable_tokens"),
        )
    )
    return per_bucket.select(
        "size_bucket",
        "n_clusters",
        "n_docs",
        "n_dup_docs",
        "total_tokens",
        "reclaimable_tokens",
        F.when(
            F.col("total_tokens") > 0,
            F.round(
                F.col("reclaimable_tokens")
                / F.col("total_tokens").cast("double"),
                6,
            ),
        ).alias("reclaim_frac"),
    ).orderBy("size_bucket")


def _d22_sql() -> str:
    d07 = _d07_sql().strip().split("ORDER BY")[0]
    return rf"""
WITH labels AS (
{d07}
),
docs AS (
  SELECT doc_id, {_NTOK_SQL.format(t="text")} AS ntok
  FROM documents
),
per_cluster AS (
  SELECT l.cluster_id,
         CAST(COUNT(*) AS BIGINT) AS csize,
         CAST(SUM(d.ntok) AS BIGINT) AS ctok,
         CAST(arg_min(d.ntok, d.doc_id) AS BIGINT) AS keep_tok
  FROM labels l JOIN docs d ON d.doc_id = l.doc_id
  GROUP BY l.cluster_id
),
per_bucket AS (
  SELECT CAST(POWER(2, FLOOR(LOG2(csize))) AS BIGINT) AS size_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_clusters,
         CAST(SUM(csize) AS BIGINT) AS n_docs,
         CAST(SUM(csize - 1) AS BIGINT) AS n_dup_docs,
         CAST(SUM(ctok) AS BIGINT) AS total_tokens,
         CAST(SUM(ctok - keep_tok) AS BIGINT) AS reclaimable_tokens
  FROM per_cluster
  GROUP BY 1
)
SELECT size_bucket, n_clusters, n_docs, n_dup_docs, total_tokens,
       reclaimable_tokens,
       CASE WHEN total_tokens > 0
            THEN ROUND(reclaimable_tokens
                       / CAST(total_tokens AS DOUBLE), 6)
       END AS reclaim_frac
FROM per_bucket
ORDER BY size_bucket
"""


REMOVAL_MOD = 37  # deterministic removal-request slice: doc_id % 37 == 0


def d23_removal_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal-request propagation (takedown / right-to-be-forgotten):
    removing a document from a training corpus is incomplete if its
    near-duplicate copies stay — the content survives. The closure
    rule: a removal request for doc X removes X AND every document in
    X's d07 near-dup cluster. The request set here is the
    deterministic ``doc_id % REMOVAL_MOD == 0`` slice (a stand-in for
    an external request list); the audit reports, per source, how many
    docs were requested, how many the cluster closure actually removes
    (``n_removed``), the collateral beyond the requests themselves,
    and what remains.

    Scale shape: d21/d22's policy-layer class over the shared d07
    labels — the request set is tiny (a takedown list is KBs against
    100 TB), so its DISTINCT cluster ids broadcast and the closure is
    one broadcast left join on ``cluster_id``; then one hash agg on
    ``source``. No pair join, no window; document bodies never move."""
    labels = _cc_labels(spark, sf_dir)
    req_clusters = (
        labels.filter(F.col("doc_id") % REMOVAL_MOD == 0)
        .select("cluster_id")
        .distinct()
        .withColumn("_rm", F.lit(1))
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    marked = (
        docs.join(labels, "doc_id", "left")
        .join(F.broadcast(req_clusters), "cluster_id", "left")
        .select(
            "source",
            (F.col("doc_id") % REMOVAL_MOD == 0).alias("requested"),
            (
                (F.col("doc_id") % REMOVAL_MOD == 0)
                | F.col("_rm").isNotNull()
            ).alias("removed"),
        )
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("requested").cast("long")).cast("long")
            .alias("n_requested"),
            F.sum(F.col("removed").cast("long")).cast("long")
            .alias("n_removed"),
        )
        .select(
            "source",
            "n_docs",
            "n_requested",
            "n_removed",
            (F.col("n_removed") - F.col("n_requested")).cast("long")
            .alias("n_collateral"),
            (F.col("n_docs") - F.col("n_removed")).cast("long")
            .alias("n_remaining"),
            F.round(
                F.col("n_removed") / F.col("n_docs").cast("double"), 6
            ).alias("removed_frac"),
        )
        .orderBy(F.col("source").asc_nulls_last())
    )


def _d23_sql() -> str:
    d07 = _d07_sql().strip().split("ORDER BY")[0]
    return f"""
WITH labels AS (
{d07}
),
req_clusters AS (
  SELECT DISTINCT cluster_id, 1 AS _rm
  FROM labels WHERE doc_id % {REMOVAL_MOD} = 0
),
marked AS (
  SELECT d.source,
         (d.doc_id % {REMOVAL_MOD} = 0) AS requested,
         ((d.doc_id % {REMOVAL_MOD} = 0) OR r._rm IS NOT NULL)
           AS removed
  FROM documents d
  LEFT JOIN labels l ON l.doc_id = d.doc_id
  LEFT JOIN req_clusters r ON r.cluster_id = l.cluster_id
),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN requested THEN 1 ELSE 0 END) AS BIGINT)
           AS n_requested,
         CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed
  FROM marked GROUP BY source
)
SELECT source, n_docs, n_requested, n_removed,
       CAST(n_removed - n_requested AS BIGINT) AS n_collateral,
       CAST(n_docs - n_removed AS BIGINT) AS n_remaining,
       ROUND(CAST(n_removed AS DOUBLE) / n_docs, 6) AS removed_frac
FROM agg
ORDER BY source NULLS LAST
"""


# --- d25: LSH banding-layout tuner (s-curve analysis) --------------------

# every (bands, rows) factorization of the 16-component signature
LSH_LAYOUTS = [(1, 16), (2, 8), (4, 4), (8, 2), (16, 1)]


def d25_lsh_layout_tuner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameterization as a QUERY: for every (bands, rows) split
    of the 16 minhash components, the s-curve collision probability
    P(candidate | j) = 1 − (1 − j^r)^b evaluated over the calibrated
    pair population (d10's exact Jaccards), aggregated into the two
    numbers a deployment trades: expected recall over TRUE pairs
    (j ≥ threshold) vs expected candidate rate over non-pairs (the
    wasted exact-verify fraction). More bands / fewer rows shifts the
    s-curve left (recall up, junk candidates up); this report is the
    measurement that justifies d03's (4, 4) — the tuning loop d10
    calibrates and this closes.

    Population honesty: pairs are the CURRENT banding's candidates
    (the observed, labelable population — pairs invisible to every
    band of the current layout are not scored). That biases absolute
    rates, not the between-layout comparison, which is the decision
    input.

    Scale shape: d10's candidate frame (band-collision bounded) cross
    joined with a broadcast 5-row layout table, one hash agg. The
    s-curve itself is constant-time arithmetic per (pair, layout)."""
    sig, cand = _minhash_sig_and_candidates(spark, sf_dir)
    za, zb = _sig_pair(sig)
    n_common = F.size(F.array_intersect(F.col("ssa"), F.col("ssb")))
    j = n_common / (F.col("na") + F.col("nb") - n_common)
    pairs = (
        cand.join(za, F.col("doc_a") == F.col("za_id"))
        .join(zb, F.col("doc_b") == F.col("zb_id"))
        .select(j.alias("j"))
    )
    layouts = spark.createDataFrame(
        [(f"{b}x{r}", b, r) for b, r in LSH_LAYOUTS],
        "layout string, bands long, rows_per_band long",
    )
    p_cand = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col("j"), F.col("rows_per_band")),
        F.col("bands"),
    )
    is_pos = F.col("j") >= MINHASH_JACCARD_THRESHOLD
    return (
        pairs.crossJoin(F.broadcast(layouts))
        .groupBy("layout", "bands", "rows_per_band")
        .agg(
            F.sum(is_pos.cast("long")).cast("long").alias("n_pos"),
            F.sum((~is_pos).cast("long")).cast("long").alias("n_neg"),
            F.round(F.avg(F.when(is_pos, p_cand)), 6)
            .alias("exp_recall_pos"),
            F.round(F.avg(F.when(~is_pos, p_cand)), 6)
            .alias("exp_cand_rate_neg"),
        )
        .orderBy("bands")
    )


def _d25_sql() -> str:
    cte, _ = _d03_cal_sql_parts()
    values = ", ".join(
        f"('{b}x{r}', {b}, {r})" for b, r in LSH_LAYOUTS
    )
    return f"""{cte},
pairs AS (
  SELECT CAST(LEN(list_intersect(za.hs, zb.hs)) AS DOUBLE)
         / (za.n + zb.n - LEN(list_intersect(za.hs, zb.hs))) AS j
  FROM cand c
  JOIN sig za ON za.doc_id = c.doc_a
  JOIN sig zb ON zb.doc_id = c.doc_b
),
layouts(layout, bands, rows_per_band) AS (
  VALUES {values}
),
scored AS (
  SELECT l.layout, CAST(l.bands AS BIGINT) AS bands,
         CAST(l.rows_per_band AS BIGINT) AS rows_per_band,
         p.j >= {MINHASH_JACCARD_THRESHOLD} AS is_pos,
         1.0 - POWER(1.0 - POWER(p.j, l.rows_per_band), l.bands)
           AS p_cand
  FROM pairs p CROSS JOIN layouts l
)
SELECT layout, bands, rows_per_band,
       CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
       ROUND(AVG(CASE WHEN is_pos THEN p_cand END), 6)
         AS exp_recall_pos,
       ROUND(AVG(CASE WHEN is_pos THEN NULL ELSE p_cand END), 6)
         AS exp_cand_rate_neg
FROM scored
GROUP BY layout, bands, rows_per_band
ORDER BY bands
"""


# --- d24: edit-distance near-dup verify over LSH candidates -------------

EDIT_REL_MAX = 0.25  # admit pairs within 25% relative edit distance

# Character-level verify runs over an ASCII-normalized projection
# (lowercase, strip non-[a-z0-9 ], collapse runs of spaces, trim) —
# the standard entity-resolution normalization, and also the parity
# seam: Spark's levenshtein counts UTF-16 code units while DuckDB's
# counts BYTES, so they disagree on any non-ASCII character ('café' vs
# 'cafe' is 1 on Spark, 2 on DuckDB; an emoji substitution is 2 vs 4).
# After normalization every char is one byte == one code unit and the
# two engines implement the same classic unit-cost DP.
_NORM_SPARK = (
    "trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),"
    " '[^a-z0-9 ]', ''), ' +', ' '))"
)
# DuckDB regexp_replace replaces only the FIRST match unless 'g'
_NORM_DUCK = (
    "TRIM(regexp_replace(regexp_replace(LOWER(COALESCE(text, '')),"
    " '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
)


def d24_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup via blocked edit distance: d03's banded-LSH
    candidate pairs, verified with character-level Levenshtein over
    ASCII-normalized text and admitted at relative distance
    ``lev / max(len)`` <= EDIT_REL_MAX.

    The capability this adds over the set-similarity family
    (d02/d03/d17): an ORDER-SENSITIVE, character-granular metric — the
    record-linkage / fuzzy-string-matching verify. Bag-of-shingles
    scores are blind to within-shingle typos and character noise;
    Levenshtein prices every insertion/deletion/substitution.

    Scale shape: candidates come from the band equi-join
    (|candidates| ~ collisions, never |docs|^2); each candidate pays
    a THRESHOLD-BANDED DP — Spark's 3-arg ``levenshtein(l, r, t)``
    with the per-pair admission bound t = floor(rel_max · max(la, lb))
    costs O(t · min(la, lb)) and returns -1 the moment the distance
    provably exceeds t, so rejected pairs (the vast majority) pay a
    fraction of the full O(la·lb) grid. Admission is exact: lev is an
    integer, so lev ≤ rel_max·denom ⟺ lev ≤ floor(rel_max·denom),
    and admitted rows carry the same exact distance the oracle's
    unbanded DP computes. The free length prefilter
    |la - lb| <= rel_max * max(la, lb) still runs first (lev >=
    |la - lb| makes it lossless) so most rejections never start a DP.
    """
    _, cand = _minhash_sig_and_candidates(spark, sf_dir)
    norm = table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_NORM_SPARK).alias("nt")
    )
    a = norm.select(
        F.col("doc_id").alias("na_id"),
        F.col("nt").alias("nta"),
        F.length("nt").alias("la"),
    )
    b = norm.select(
        F.col("doc_id").alias("nb_id"),
        F.col("nt").alias("ntb"),
        F.length("nt").alias("lb"),
    )
    denom = F.greatest("la", "lb").cast("double")
    paired = (
        cand.join(a, F.col("doc_a") == F.col("na_id"))
        .join(b, F.col("doc_b") == F.col("nb_id"))
        .filter(
            F.abs(F.col("la") - F.col("lb")).cast("double")
            <= F.lit(EDIT_REL_MAX) * denom
        )
        .withColumn(
            "lt",
            F.floor(F.lit(EDIT_REL_MAX) * denom).cast("int"),
        )
        .withColumn(
            "lev", F.expr("levenshtein(nta, ntb, lt)").cast("long")
        )
    )
    rel = F.when(denom == 0, F.lit(0.0)).otherwise(F.col("lev") / denom)
    return (
        paired.filter(F.col("lev") >= 0)  # -1 = banded DP said > lt
        .select(
            "doc_a",
            "doc_b",
            "lev",
            F.round(rel, 6).alias("rel_dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _d24_sql() -> str:
    cte, _ = _d03_cal_sql_parts()  # d03's chain up to cand pairs
    return f"""{cte},
norm AS (
  SELECT doc_id, {_NORM_DUCK} AS nt FROM documents
),
paired AS (
  SELECT c.doc_a, c.doc_b,
         CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS lev,
         CAST(GREATEST(LENGTH(a.nt), LENGTH(b.nt)) AS DOUBLE) AS denom
  FROM cand c
  JOIN norm a ON a.doc_id = c.doc_a
  JOIN norm b ON b.doc_id = c.doc_b
  WHERE CAST(ABS(LENGTH(a.nt) - LENGTH(b.nt)) AS DOUBLE)
        <= {EDIT_REL_MAX} * GREATEST(LENGTH(a.nt), LENGTH(b.nt))
)
SELECT doc_a, doc_b, lev,
       ROUND(CASE WHEN denom = 0 THEN 0.0
                  ELSE lev / denom END, 6) AS rel_dist
FROM paired
WHERE (CASE WHEN denom = 0 THEN 0.0 ELSE lev / denom END)
      <= {EDIT_REL_MAX}
ORDER BY doc_a, doc_b
"""


QUERIES = [
    Query("d01_exact_dedup", d01_exact_dedup, D01_SQL,
          "exact dedup via hash-groupBy on MD5"),
    Query("d02_ngram_jaccard", d02_ngram_jaccard, D02_SQL,
          "count-based n-gram Jaccard, consecutive-doc pairs"),
    Query("d03_minhash_lsh", d03_minhash_lsh, _d03_sql(),
          "MinHash signatures + LSH band join + exact verify"),
    Query("d04_simhash", d04_simhash, _d04_sql(),
          "SimHash bitwise-majority fingerprint"),
    Query("d05_embedding_neardup", d05_embedding_neardup, D05_SQL,
          "cosine near-dup pairs, label-blocked"),
    Query("d06_simhash_pairs", d06_simhash_pairs, _d06_sql(),
          "SimHash banded near-dup pairs, popcount-verified"),
    Query("d07_dedup_clusters", d07_dedup_clusters, _d07_sql(),
          "near-dup connected components (min-label propagation)"),
    Query("d08_canonical_corpus", d08_canonical_corpus, _d08_sql(),
          "dedup policy: keep one doc per cluster, retention stats"),
    Query("d09_contamination", d09_contamination, D09_SQL,
          "benchmark decontamination screen (n-gram overlap vs eval set)"),
    Query("d10_minhash_calibration", d10_minhash_calibration, _d10_sql(),
          "minhash estimate vs exact Jaccard per candidate pair "
          "(LSH parameter calibration)"),
    Query("d11_ngram_jaccard_capped", d11_ngram_jaccard_capped, _d11_sql(),
          "d02 with stop-shingle removal (DF cap bounds hot-shingle "
          "skew)"),
    Query("d16_span_scrub", d16_span_scrub, D16_SQL,
          "exact-substring REMOVAL: excise non-canonical duplicated "
          "spans, rebuild docs, report counts + fingerprint"),
    Query("d12_span_dedup", d12_span_dedup, D12_SQL,
          "repeated cross-document token-span detection (substring-"
          "level dedup a la Lee et al. 2022)"),
    Query("d13_quality_canonical", d13_quality_canonical, _d13_sql(),
          "quality-argmax canonical per near-dup cluster (d08's policy "
          "upgraded from keep-min-id)"),
    Query("d14_lsh_admission", d14_lsh_admission, _d14_sql(),
          "greedy LSH admission (bucket-min predicate; batch twin of "
          "the streaming near-dup filter)"),
    Query("d17_containment_pairs", d17_containment_pairs, D17_SQL,
          "asymmetric containment near-dup (|A intersect B| / |A|): "
          "embedded-document detection Jaccard dilutes away"),
    Query("d18_bloom_decontamination", d18_bloom_decontamination,
          _d18_sql(),
          "Bloom-filter decontamination probe: fixed-size bit table "
          "replaces the broadcast eval shingle set; no-false-negative "
          "guarantee + measured FP rate vs exact membership"),
    Query("d19_containment_calibration", d19_containment_calibration,
          _d19_sql(),
          "MinHash containment estimator calibration (Broder identity "
          "from est. Jaccard + sizes) vs exact, both directions"),
    Query("d20_snapshot_diff", d20_snapshot_diff, D20_SQL,
          "cross-snapshot corpus diff: added/removed/changed/unchanged "
          "per source via a fingerprint full-outer join"),
    Query("d21_softdedup_weights", d21_softdedup_weights, _d21_sql(),
          "soft dedup: per-doc 1/|cluster| sampling weight + effective "
          "token mass over the d07 components (no doc dropped)"),
    Query("d22_dedup_roi", d22_dedup_roi, _d22_sql(),
          "dedup ROI curve: cluster sizes bucketed by power of two, "
          "docs + token mass reclaimable under keep-one policy"),
    Query("d23_removal_propagation", d23_removal_propagation, _d23_sql(),
          "takedown closure: removal requests propagate to the whole "
          "d07 near-dup cluster; per-source collateral audit"),
    Query("d24_editdist_neardup", d24_editdist_neardup, _d24_sql(),
          "fuzzy near-dup: banded-LSH candidates verified by "
          "character-level Levenshtein over ASCII-normalized text "
          "(relative distance <= 0.25; length-bound prefilter)"),
    Query("d25_lsh_layout_tuner", d25_lsh_layout_tuner, _d25_sql(),
          "LSH banding tuner: s-curve P(candidate|j)=1-(1-j^r)^b per "
          "(bands, rows) layout over the calibrated pair population "
          "— expected recall vs wasted-verify rate"),
]

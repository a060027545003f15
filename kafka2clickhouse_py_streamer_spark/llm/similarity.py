"""Similarity search over ``embeddings.embedding`` (array<float>, 64-dim):

- s01: brute-force cosine top-k (exact baseline) — cross join of a small
  query set against the corpus, per-query top-k via window. At 100 TB the
  query side is broadcast and the corpus side streams: cost is one scan,
  no shuffle of the corpus.
- s02: hyperplane-LSH bucketed ANN — deterministic pseudo-random planes,
  sign-bit bucket key, candidates = same-bucket rows only. The scale
  path: bucket key is computed in the scan projection, the join is an
  equi-join on the bucket id.

All vector math is JVM higher-order functions (zip_with/aggregate) in
strict index order so the DuckDB oracle (list_dot_product on DOUBLE[])
matches bit-for-bit before rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka2clickhouse_py_streamer_spark.functions import (
    cosine as cosine_fn,
    dot,
    l2_norm,
    to_double_vec,
    valid_emb_sql,
    valid_embeddings,
)
from kafka2clickhouse_py_streamer_spark.functions.graph import iter_materialize
from kafka2clickhouse_py_streamer_spark.operators.base import Query, table
from kafka2clickhouse_py_streamer_spark.session import substrate

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 3
# Plane-count sizing (round-12: the knob is now DERIVED code, not a
# constant — the hamming-core lesson applied to the hyperplane family;
# RECEIPT_SF10 measured 7 fixed planes = 349.8M candidate pairs vs
# planes_for(200k)=13 derived = 11.1M at 200k vectors). Per-bucket occupancy ≈ N/2^planes
# and every bucket self-join pays occupancy², so the plane count must
# grow with the corpus: planes_for(N) picks the smallest p with
# N / 2^p <= TARGET_OCCUPANCY, floored at MIN_PLANES (the fixture
# scale: sf0.01 ~500 vecs / 16 buckets ~ 31) and capped at MAX_PLANES
# (occupancy 32 holds to ~2^24·32 ≈ 537M vectors; past that, raise the
# cap). s02/s03/s09 derive the count from the corpus they scan; the
# oracle SQL computes the SAME integer formula from COUNT(*) and masks
# a MAX_PLANES-wide bucket, so both engines agree at every sf with ONE
# static SQL string. The streamed admitter (corpus_stream) instead
# takes the count as an explicit stream-lifetime parameter: its state
# stores bucket ids across micro-batches, so the count must be fixed
# at stream start, sized from the EXPECTED corpus.
# (Raised-plane history: the original generator silently repeated
# planes mod 7, so 8 nominal planes were 7 effective.)
MIN_PLANES = 4
MAX_PLANES = 24
TARGET_OCCUPANCY = 32
N_PLANES = MIN_PLANES  # fixture-scale floor (legacy alias; tools use it)
DIM = 64


def planes_for(n_vectors: int) -> int:
    """Scale-derived hyperplane count: the smallest ``p`` in
    [MIN_PLANES, MAX_PLANES] with ``n_vectors / 2**p`` at or under
    TARGET_OCCUPANCY, computed as MIN_PLANES plus a sum of integer
    threshold indicators — pure integer comparisons, reproduced
    verbatim (CASE WHEN n > occ<<k) in the oracle SQL so both engines
    derive the identical count from the identical COUNT(*)."""
    return MIN_PLANES + sum(
        1
        for k in range(MIN_PLANES, MAX_PLANES)
        if n_vectors > (TARGET_OCCUPANCY << k)
    )


def _planes_sql(count_from: str = "embeddings") -> str:
    """CTE body computing the derived plane count from ``count_from``:
    the oracle-side twin of :func:`planes_for` (same indicator sum).
    Defaults to the RAW embeddings table — the same unfiltered count
    the Spark side derives from (see :func:`derived_planes`: the raw
    count is metadata-cheap; the filtered count would scan the
    embedding column)."""
    terms = " + ".join(
        f"(CASE WHEN n > {TARGET_OCCUPANCY << k} THEN 1 ELSE 0 END)"
        for k in range(MIN_PLANES, MAX_PLANES)
    )
    return (
        f"SELECT {MIN_PLANES} + {terms} AS p"
        f" FROM (SELECT COUNT(*) AS n FROM {count_from})"
    )


def _plane_coeff(plane: int, i: int) -> int:
    """Deterministic pseudo-random plane coefficient in [-3, 3].

    The old formula ``(i+1)*(plane+3)*K % 7`` was multiplicative in
    (plane+3), so planes repeated with period 7 — plane 7 duplicated
    plane 0 and the nominal 8-plane bucket space had only 128
    effective buckets (caught by the sf1 occupancy probe: raising
    n_planes past 7 left the candidate-pair count unchanged). The
    integer mix below yields distinct planes for every practical
    n_planes; the coefficients are inlined as literals into BOTH the
    Spark expression and the oracle SQL, so no cross-engine parity
    constraint applies to the formula itself."""
    h = (plane * 1315423911 + i * 2654435761 + 97) & 0xFFFFFFFF
    h = ((h ^ (h >> 13)) * 1099087573) & 0xFFFFFFFF
    return ((h >> 7) % 7) - 3


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = valid_embeddings(table(spark, sf_dir, "embeddings"), DIM)
    vec_d = to_double_vec("embedding")
    return em.select(
        "vec_id", vec_d.alias("v"), l2_norm(vec_d).alias("norm")
    )


def _cosine(a_col: str, b_col: str, a_norm: str, b_norm: str):
    return cosine_fn(a_col, b_col, a_norm, b_norm)


def s01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k: brute-force cosine of each query vs whole corpus."""
    base = _base(spark, sf_dir)
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    c = base.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "cand_id",
        F.round(_cosine("qv", "cv", "qnorm", "cnorm"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("query_id", "rk")
    )


S01_SQL = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         ROUND(list_dot_product(q.v, c.v)
               / (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))),
               6) AS cosine
  FROM base q, base c
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT query_id, cand_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, cand_id ASC) AS rk
  FROM scored
)
SELECT query_id, cand_id, cosine, rk
FROM ranked WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


def _bucket_expr(n_planes: int = N_PLANES):
    """Hyperplane-LSH bucket id of the ``v`` column: ``n_planes``
    deterministic planes → sign bits → long. Single source for
    s02/s03/s09 (and the matching SQL in :func:`_bucket_sql_expr`).

    ``n_planes`` is the SCALE KNOB: per-bucket occupancy ≈
    N / 2^planes, and every bucket-self-join pays occupancy² — so
    planes must grow with the corpus. s02/s03/s09 derive it from the
    corpus count (:func:`planes_for`); the streamed admitter fixes it
    at stream start.

    PREFIX-CLOSED by construction: plane ``p`` contributes bit ``p``,
    so the ``q``-plane bucket equals the ``P``-plane bucket masked to
    its low ``q`` bits for any q <= P. The oracle SQL depends on this
    (it computes one MAX_PLANES-wide bucket and masks with the derived
    count); do not reorder the bits."""
    bucket = None
    for p in range(n_planes):
        coeffs = F.array(
            *[F.lit(float(_plane_coeff(p, i))) for i in range(DIM)]
        )
        bit = F.when(dot("v", coeffs) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def _bucket_sql_expr(n_planes: int = N_PLANES) -> str:
    """DuckDB twin of :func:`_bucket_expr` over a ``v`` list column."""
    bits = []
    for p in range(n_planes):
        coeffs = ", ".join(
            str(float(_plane_coeff(p, i))) for i in range(DIM)
        )
        bits.append(
            f"(CASE WHEN list_dot_product(v, [{coeffs}]) > 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    return "\n         + ".join(bits)


def derived_planes(spark: SparkSession, sf_dir: str) -> int:
    """Corpus-derived plane count: one COUNT() to the driver (the s10
    pattern — a scalar that becomes a plan constant), then
    :func:`planes_for`. Counts the RAW embeddings table, not the
    validity-filtered base: the occupancy target is approximate, so
    the exact member count doesn't matter, but WHICH count is used
    must match the oracle SQL's — and the raw count is
    metadata-cheap (a zero-column parquet scan reads footers and row
    counts), where the filtered count would evaluate the validity
    predicate over the embedding column, a full data scan at corpus
    scale. Raw ≥ filtered only ever rounds the plane count UP (never
    hurts linearity). Callers with a known corpus size pass an
    explicit ``n_planes`` instead and skip the count job.

    A ``"planes"`` session substrate per sf_dir: the raw row count is
    immutable for a session's view of a directory, so consumers
    (s02/s03/s09/d15) pay the COUNT job once per session, not once per
    query call (each used to pay ~0.2-0.5 s per call)."""
    return substrate(
        spark, "planes", sf_dir,
        lambda: planes_for(table(spark, sf_dir, "embeddings").count()),
    )


def s02_lsh_buckets(
    spark: SparkSession, sf_dir: str, n_planes: int | None = None
) -> DataFrame:
    """Hyperplane-LSH ANN: scale-derived deterministic planes -> sign
    bits -> bucket id; report per-bucket membership stats (the
    candidate generation stage — top-k within bucket composes with
    s01's scorer). ``n_planes`` defaults to the corpus-derived count
    (:func:`planes_for`); pass it explicitly to pin a layout."""
    base = _base(spark, sf_dir)
    if n_planes is None:
        n_planes = derived_planes(spark, sf_dir)
    tagged = base.select("vec_id", _bucket_expr(n_planes).alias("bucket"))
    return (
        tagged.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .orderBy("bucket")
    )


def _s02_sql() -> str:
    combine = _bucket_sql_expr(MAX_PLANES)
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
pl AS ({_planes_sql()}),
tagged AS (
  SELECT vec_id,
         CAST({combine} AS BIGINT)
           & ((CAST(1 AS BIGINT) << (SELECT p FROM pl)) - 1) AS bucket
  FROM base
)
SELECT bucket, COUNT(*) AS n_vectors,
       MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
FROM tagged
GROUP BY bucket
ORDER BY bucket
"""


def s03_lsh_topk(
    spark: SparkSession, sf_dir: str, n_planes: int | None = None
) -> DataFrame:
    """ANN end-to-end: LSH bucket equi-join (candidates = same bucket)
    then exact cosine re-rank, top-k per query. The equi-join on bucket
    replaces s01's cross join — this is the shape that survives a
    billion-vector corpus. The plane count defaults to the corpus-
    derived value (:func:`planes_for`), so occupancy — and with it the
    per-query candidate cost — stays flat as the corpus grows."""
    base = _base(spark, sf_dir)
    if n_planes is None:
        n_planes = derived_planes(spark, sf_dir)
    tagged = base.withColumn("bucket", _bucket_expr(n_planes))
    q = tagged.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "bucket",
    )
    c = tagged.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "bucket",
    )
    scored = F.broadcast(q).join(c, "bucket").select(
        "query_id",
        "cand_id",
        F.round(_cosine("qv", "cv", "qnorm", "cnorm"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("query_id", "rk")
    )


def _s03_sql() -> str:
    combine = _bucket_sql_expr(MAX_PLANES)
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
pl AS ({_planes_sql()}),
tagged AS (
  SELECT vec_id, v,
         CAST({combine} AS BIGINT)
           & ((CAST(1 AS BIGINT) << (SELECT p FROM pl)) - 1) AS bucket
  FROM base
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         ROUND(list_dot_product(q.v, c.v)
               / (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))),
               6) AS cosine
  FROM tagged q
  JOIN tagged c ON q.bucket = c.bucket
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT query_id, cand_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, cand_id ASC) AS rk
  FROM scored
)
SELECT query_id, cand_id, cosine, rk
FROM ranked WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


N_CENTROIDS = 4


def _centroid_coeff(c: int, i: int) -> int:
    """Deterministic pseudo-random centroid coordinate in [-6, 6]."""
    return ((i + 7) * (c + 11) * 2654435761 % 13) - 6


def s04_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest of
    N_CENTROIDS fixed centroids (argmax inner product, ties to the
    lowest id), then exact cosine re-rank within the query's cell.

    The 100 TB shape: centroids come from a sampled k-means in practice
    (fixed pseudo-random here for determinism); assignment is a scan
    projection, candidate generation an equi-join on cell id — corpus
    shuffles once on a small int key instead of N×M scoring. Compared
    with s03's LSH: IVF gives controllable cell counts (K) at the cost
    of training; the plan shape downstream is identical.
    """
    base = _base(spark, sf_dir)
    dots = [
        dot(
            "v",
            F.array(*[F.lit(float(_centroid_coeff(c, i))) for i in range(DIM)]),
        )
        for c in range(N_CENTROIDS)
    ]
    best = F.greatest(*dots)
    cell = F.lit(None)
    for c in range(N_CENTROIDS - 1, -1, -1):
        cell = F.when(dots[c] == best, F.lit(c)).otherwise(cell)
    tagged = base.withColumn("cell", cell.cast("long"))
    q = tagged.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "cell",
    )
    c_ = tagged.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "cell",
    )
    scored = F.broadcast(q).join(c_, "cell").select(
        "query_id",
        "cand_id",
        "cell",
        F.round(_cosine("qv", "cv", "qnorm", "cnorm"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("query_id", "rk")
    )


def _s04_sql() -> str:
    dots = []
    for c in range(N_CENTROIDS):
        coeffs = ", ".join(
            str(float(_centroid_coeff(c, i))) for i in range(DIM)
        )
        dots.append(f"list_dot_product(v, [{coeffs}])")
    best = "GREATEST(" + ", ".join(f"d{c}" for c in range(N_CENTROIDS)) + ")"
    whens = "\n              ".join(
        f"WHEN d{c} = {best} THEN {c}" for c in range(N_CENTROIDS)
    )
    dcols = ",\n         ".join(
        f"{d} AS d{c}" for c, d in enumerate(dots)
    )
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
dotted AS (
  SELECT vec_id, v,
         {dcols}
  FROM base
),
tagged AS (
  SELECT vec_id, v,
         CAST(CASE {whens} END AS BIGINT) AS cell
  FROM dotted
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.cell,
         ROUND(list_dot_product(q.v, c.v)
               / (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))),
               6) AS cosine
  FROM tagged q
  JOIN tagged c ON q.cell = c.cell
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT query_id, cand_id, cell, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, cand_id ASC) AS rk
  FROM scored
)
SELECT query_id, cand_id, cell, cosine, rk
FROM ranked WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


# Lloyd refinement rounds after the deterministic mod-K seeding. Each
# round is one corpus scan (argmin-L2 assignment against broadcast
# literal centroids) + one K-group hash agg + a K×DIM driver collect —
# the classic train-small/broadcast-wide IVF shape; the corpus never
# shuffles for training.
LLOYD_ITERS = 2


def _q9(x: float) -> float:
    """Quantize a trained centroid coordinate to a 1e-9 grid with an
    explicit floor(x·1e9 + 0.5)/1e9 — the same arithmetic DuckDB runs
    in the oracle twin, so a sub-1e-9 cross-engine difference in the
    AVG accumulation order cannot leak into the next Lloyd round's
    assignments (both engines snap to the same grid point)."""
    import math

    return math.floor(x * 1e9 + 0.5) / 1e9


def _lloyd_round(
    corpus: DataFrame, cents: dict[int, list[float]]
) -> dict[int, list[float]]:
    """One Lloyd iteration: argmin squared-L2 assignment against the
    broadcast centroid literals, then per-cell mean re-center. The
    per-row ‖v‖² term is constant across centroids, so BOTH engines
    rank on ‖c_k‖² − 2·(v·c_k) only; ties break to the lowest key
    (array_position first-occurrence ≡ the oracle's ORDER BY dist, g).
    Cells that lose every member keep their previous centroid (the
    standard empty-cell rule, mirrored by the oracle's LEFT JOIN +
    COALESCE). Re-centered means are 1e-9-quantized on both engines
    (`_q9`) so FP summation-order noise cannot compound across
    rounds."""
    keys = sorted(cents)
    dists = F.expr(
        "array("
        + ", ".join(
            f"(cast({sum(x * x for x in cents[k])!r} as double)"
            f" - 2.0D * {_DOT_SQL_T.format(a='v', b=_cw_sql(cents[k]))})"
            for k in keys
        )
        + ")"
    )
    with_d = corpus.withColumn("_ld", dists)
    pos = F.array_position(F.col("_ld"), F.array_min("_ld")).cast("int")
    cell = _pos_payload(cents, {k: k for k in cents}, pos).cast("int")
    means = (
        with_d.withColumn("g", cell)
        .groupBy("g")
        .agg(
            *[
                F.avg(F.element_at("v", i + 1)).alias(f"m{i}")
                for i in range(DIM)
            ]
        )
        .collect()
    )
    got = {
        row["g"]: [_q9(row[f"m{i}"]) for i in range(DIM)] for row in means
    }
    return {k: got.get(k, cents[k]) for k in keys}


def _train_centroids(
    base: DataFrame,
    sf_dir: str | None = None,
    iters: int = LLOYD_ITERS,
    extra=None,
    tag: str = "",
) -> dict[int, list[float]]:
    """The s05 train step, shared with the s11/s12/s13 family:
    deterministic mod-K residue-class means as the k-means seeding
    (both engines reproduce it bit-for-bit), then ``iters`` Lloyd
    rounds (`_lloyd_round`) — real assign→re-center k-means expressed
    as broadcast-assignment + hash-agg dataflow, oracle-twinned by
    `_train_cte_sql`. Returns the K×DIM doubles (driver-side: K×64
    values, broadcast as literals). A ``"centroids"`` session substrate
    per (sf_dir, iters, tag) when sf_dir is given — the four consumers
    (s05/s11/s12/s13) train identical codebooks once per session.
    ``extra`` restricts the training set to a Column predicate (s20
    trains on the indexed snapshot half only); callers passing
    ``extra`` MUST pass a distinct ``tag`` so subset-trained centroids
    never alias the full-corpus entry."""
    if sf_dir:
        return substrate(
            base.sparkSession, "centroids", (sf_dir, iters, tag),
            lambda: _train_centroids(base, iters=iters, extra=extra),
        )
    corpus = base.filter(F.col("vec_id") >= N_QUERIES)
    if extra is not None:
        corpus = corpus.filter(extra)
    seeds = (
        corpus.withColumn(
            "g", (F.col("vec_id") % N_CENTROIDS).cast("int")
        )
        .groupBy("g")
        .agg(
            *[
                F.avg(F.element_at("v", i + 1)).alias(f"m{i}")
                for i in range(DIM)
            ]
        )
        .orderBy("g")
        .collect()
    )
    # seeds quantize too (not only the Lloyd round outputs): the FIRST
    # assignment is just as exposed to cross-engine AVG accumulation-
    # order noise as later ones — an unsnapped seed mean could flip a
    # razor-edge round-1 cell and put the engines on divergent
    # trajectories no later quantization can reconcile
    cents = {
        row["g"]: [_q9(row[f"m{i}"]) for i in range(DIM)]
        for row in seeds
    }
    for _ in range(iters):
        if not cents:
            break
        cents = _lloyd_round(corpus, cents)
    return cents


def _train_cte_sql(iters: int = LLOYD_ITERS, extra_where: str = "") -> str:
    """The DuckDB twin of `_train_centroids`, as a CTE chain (expects
    ``base`` in scope): seeds0 = mod-K residue means, then per round t
    an argmin-L2 assignment (``ROW_NUMBER ... ORDER BY ‖c‖²−2(v·c), g``
    — the same v·v-free ranking Spark uses) and a 1e-9-quantized mean
    re-center with LEFT JOIN + COALESCE as the empty-cell rule. The
    final round is named ``seeds`` with columns (g, m0..m{DIM-1}) so
    the four consumers' SQL reads trained centroids exactly as it read
    the one-shot seeds before Lloyd training existed. Seed means are
    1e-9-quantized exactly like the round outputs (`_q9`) — the first
    assignment must not see unsnapped AVG noise either. ``extra_where``
    restricts the TRAINING rows (e.g. ``AND vec_id % 2 = 0`` for
    s20's indexed-snapshot half), the twin of `_train_centroids`'s
    ``extra`` predicate; it applies to both the seeding and every
    round's assignment, and defaults to nothing so every existing
    oracle string is byte-identical."""
    means = ",\n         ".join(
        f"FLOOR(AVG(v[{i + 1}]) * 1e9 + 0.5) / 1e9 AS m{i}"
        for i in range(DIM)
    )
    name0 = "seeds" if iters == 0 else "seeds0"
    parts = [
        f"""{name0} AS (
  SELECT CAST(vec_id % {N_CENTROIDS} AS INTEGER) AS g,
         {means}
  FROM base
  WHERE vec_id >= {N_QUERIES}{extra_where}
  GROUP BY CAST(vec_id % {N_CENTROIDS} AS INTEGER)
)"""
    ]
    centv = "[" + ", ".join(f"m{i}" for i in range(DIM)) + "]"
    qmeans = ",\n         ".join(
        f"FLOOR(AVG(v[{i + 1}]) * 1e9 + 0.5) / 1e9 AS m{i}"
        for i in range(DIM)
    )
    coal = ",\n         ".join(
        f"COALESCE(a.m{i}, s.m{i}) AS m{i}" for i in range(DIM)
    )
    for t in range(1, iters + 1):
        prev = f"seeds{t - 1}"
        name = "seeds" if t == iters else f"seeds{t}"
        parts.append(
            f"""cv{t - 1} AS (
  SELECT g, {centv} AS cv FROM {prev}
),
asg{t} AS (
  SELECT vec_id, v, g FROM (
    SELECT b.vec_id, b.v, c.g,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
             list_dot_product(c.cv, c.cv)
             - 2 * list_dot_product(b.v, c.cv) ASC, c.g ASC) AS rn
    FROM base b CROSS JOIN cv{t - 1} c
    WHERE b.vec_id >= {N_QUERIES}{extra_where.replace("vec_id", "b.vec_id")}
  ) WHERE rn = 1
),
agg{t} AS (
  SELECT g, {qmeans}
  FROM asg{t} GROUP BY g
),
{name} AS (
  SELECT s.g, {coal}
  FROM {prev} s LEFT JOIN agg{t} a ON a.g = s.g
)"""
        )
    return ",\n".join(parts)


_DOT_SQL_T = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " cast(0 as double), (acc, x) -> acc + x)"
)


def _cw_sql(vals: list[float]) -> str:
    """A literal double array in Spark-SQL text (repr round-trips)."""
    return "array(" + ", ".join(f"cast({x!r} as double)" for x in vals) + ")"


def _dots_array(cents: dict[int, list[float]], vcol: str = "v"):
    """All centroid dot products of ``vcol`` as ONE array column
    (positions follow sorted keys). Materializing the array means each
    HOF dot product is evaluated exactly once per row — the earlier
    when-chain argmax re-evaluated every interpreted dot per
    comparison branch, measured at ~6× the work. Built as SQL text
    (one JVM parse): the K×DIM literal Columns used to cost hundreds
    of py4j round-trips per plan build (same finding as
    `_pq_sub_dist_sql`)."""
    return F.expr(
        "array("
        + ", ".join(
            _DOT_SQL_T.format(a=vcol, b=_cw_sql(cents[k]))
            for k in sorted(cents)
        )
        + ")"
    )


def _argmax_pos(dots_col):
    """1-based POSITION of the max dot (first occurrence on ties ⇒
    lowest position ⇒ lowest key), matching the oracle's ROW_NUMBER
    ... ORDER BY d DESC, g ASC. Works on a materialized array column
    so the dots are never recomputed per comparison."""
    c = F.col(dots_col) if isinstance(dots_col, str) else dots_col
    return F.array_position(c, F.array_max(c)).cast("int")


def _pos_payload(cents: dict[int, list[float]], payload: dict, pos):
    """``payload[k]`` of the winner at 1-based position ``pos`` within
    sorted(cents) — keys, not list positions, index the payload, so a
    residue class with no valid corpus vector cannot silently relabel
    later cells away from the oracle's g."""
    vals = F.array(*[F.lit(payload[k]) for k in sorted(cents)])
    return F.element_at(vals, pos)


def _probe_cell_cols(q: DataFrame, cents: dict[int, list[float]]):
    """Given ``q`` carrying the ``_cd`` centroid-dots array, return
    ``(q', cols)``: ``q'`` with the argmax positions added and the
    probe-cell Column list — the min(N_PROBE, |cells|) nearest coarse
    cells by inner product. pos1 is the array argmax; pos2 re-argmaxes
    with pos1 masked to -inf, i.e. the first occurrence among the rest
    ≡ the oracle's ROW_NUMBER rn=2 under (d DESC, g ASC). With a
    single trained cell there IS no second probe — the masked argmax
    would degenerate to _p1 and every candidate would join twice
    (duplicate top-k rows the oracle's rn<=N_PROBE form never emits).
    Shared by s14 (ADC probe) and s21 (filtered probe) so the nprobe
    selection can never drift between them."""
    q = q.withColumn("_p1", _argmax_pos("_cd"))
    cell_of = {k: k for k in cents}
    cols = [_pos_payload(cents, cell_of, F.col("_p1")).cast("long")]
    if len(cents) > 1:
        masked = F.transform(
            F.col("_cd"),
            lambda x, i: F.when(
                i == F.col("_p1") - 1, F.lit(float("-inf"))
            ).otherwise(x),
        )
        q = q.withColumn("_p2", _argmax_pos(masked))
        cols.append(_pos_payload(cents, cell_of, F.col("_p2")).cast("long"))
    return q, cols


def _assign_cell_df(df: DataFrame, cents: dict[int, list[float]]):
    """df + a ``cell`` column (argmax-inner-product key). Two-step
    select: the dots array materializes in its own projection so the
    argmax's two references (max + position) don't duplicate the HOF
    dot evaluations."""
    with_dots = df.withColumn("_dots", _dots_array(cents))
    pos = _argmax_pos("_dots")
    cell = _pos_payload(cents, {k: k for k in cents}, pos).cast("long")
    return with_dots.withColumn("cell", cell).drop("_dots")


def s05_trained_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with TRAINED centroids (s04 uses fixed pseudo-random ones):
    centroid k = the element-wise mean of the corpus vectors whose
    vec_id ≡ k (mod K) — a deterministic stand-in for sampled k-means
    seeding, so both engines train identically. Assignment, cell join,
    and exact re-rank are then s04's plan.

    The train step is 64 avg aggregates per cell (pure JVM hash agg,
    one shuffle on the K-value cell key); its output is K×64 doubles —
    collected to the driver and inlined as literals, the real-world
    'train small, broadcast into the scan projection' IVF shape (at
    100 TB the corpus never reshuffles for assignment)."""
    base = _base(spark, sf_dir)
    cents = _train_centroids(base, sf_dir)
    if not cents:
        return spark.createDataFrame(
            [], "query_id long, cand_id long, cell long, cosine double,"
            " rk long"
        )
    tagged = _assign_cell_df(base, cents)
    q = tagged.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "cell",
    )
    c_ = tagged.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "cell",
    )
    scored = F.broadcast(q).join(c_, "cell").select(
        "query_id",
        "cand_id",
        "cell",
        F.round(_cosine("qv", "cv", "qnorm", "cnorm"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("query_id", "rk")
    )


def _s05_sql() -> str:
    centv = "[" + ", ".join(f"m{i}" for i in range(DIM)) + "]"
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
{_train_cte_sql()},
centv AS (
  SELECT g, {centv} AS cv FROM seeds
),
dotted AS (
  SELECT b.vec_id, b.v, c.g, list_dot_product(b.v, c.cv) AS d
  FROM base b CROSS JOIN centv c
),
assigned AS (
  SELECT vec_id, v, CAST(g AS BIGINT) AS cell
  FROM (
    SELECT vec_id, v, g,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d DESC, g ASC) AS rn
    FROM dotted
  )
  WHERE rn = 1
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.cell,
         ROUND(list_dot_product(q.v, c.v)
               / (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))),
               6) AS cosine
  FROM assigned q
  JOIN assigned c ON q.cell = c.cell
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT query_id, cand_id, cell, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, cand_id ASC) AS rk
  FROM scored
)
SELECT query_id, cand_id, cell, cosine, rk
FROM ranked WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


# --- s06: int8 embedding quantization -------------------------------
#
# The storage half of an ANN system: per-vector symmetric int8
# quantization (scale = max|x| / 127) shrinks a float32 embedding
# column 4x, which at 100 TB is the difference between an index that
# fits in cluster memory and one that doesn't. The operator reports the
# quantization quality per vector (max reconstruction error + cosine
# between the original and the dequantized vector) — the check a
# pipeline runs before committing to the compressed representation.
# floor(x + 0.5) rather than round(): Spark rounds HALF_UP and DuckDB
# half-even, so an explicit floor keeps the two engines bit-identical.


def s06_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization + reconstruction audit, all JVM
    higher-order functions — one codegen'd scan, zero shuffle, zero
    Python: the shape that streams 100 TB of vectors through
    whole-stage codegen untouched."""
    e = _base(spark, sf_dir)
    max_abs = F.aggregate(
        F.col("v"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    df = e.select("vec_id", "v", max_abs.alias("max_abs"))
    scale = F.col("max_abs") / F.lit(127.0)
    dq = F.transform(
        F.col("v"), lambda x: F.floor(x / scale + F.lit(0.5)) * scale
    )
    df = df.select(
        "vec_id",
        "v",
        F.round(scale, 6).alias("scale"),
        dq.alias("dq"),
    )
    max_err = F.aggregate(
        F.zip_with(F.col("v"), F.col("dq"), lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    cos = dot("v", "dq") / (l2_norm("v") * l2_norm("dq"))
    return df.select(
        "vec_id",
        "scale",
        F.round(max_err, 6).alias("max_abs_err"),
        F.round(cos, 6).alias("cos_recon"),
    ).orderBy("vec_id")


S06_SQL = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
scaled AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, x -> ABS(x)), 'max') / 127.0
           AS scale
  FROM base
),
quant AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> FLOOR(x / scale + 0.5) * scale) AS dq
  FROM scaled
)
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       ROUND(list_aggregate(
               list_transform(list_zip(v, dq),
                              p -> ABS(p[1] - p[2])), 'max'), 6)
         AS max_abs_err,
       ROUND(list_dot_product(v, dq)
             / (SQRT(list_dot_product(v, v)) * SQRT(list_dot_product(dq, dq))),
             6) AS cos_recon
FROM quant
ORDER BY vec_id
"""


# --- s07: k-NN label vote ------------------------------------------

KNN_K = 5  # neighbors consulted per query


def s07_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction: each query vector takes the majority
    label of its KNN_K nearest corpus neighbors (cosine), ties broken
    toward the smaller label — the label-propagation step a curation
    pipeline uses to auto-tag unlabeled data from a labeled seed set.

    Scale shape: inherits s01's — the query set broadcasts, the corpus
    streams (never shuffles) through the scored projection; the only
    exchanges are the per-query top-k window and the (query, label)
    vote agg, both keyed on the tiny query-id space."""
    base = valid_embeddings(table(spark, sf_dir, "embeddings"), DIM)
    vec = to_double_vec("embedding")
    typed = base.select(
        "vec_id", vec.alias("v"), l2_norm(vec).alias("norm"), "label"
    )
    q = typed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    c = typed.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        F.col("label").alias("cand_label"),
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "cand_id",
        "cand_label",
        F.round(_cosine("qv", "cv", "qnorm", "cnorm"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    neighbors = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= KNN_K
    )
    votes = neighbors.groupBy("query_id", "cand_label").agg(
        F.count(F.lit(1)).cast("long").alias("votes")
    )
    pick = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("cand_label").asc()
    )
    return (
        votes.withColumn("vote_rank", F.row_number().over(pick))
        .filter(F.col("vote_rank") == 1)
        .select(
            "query_id",
            F.col("cand_label").alias("pred_label"),
            "votes",
        )
        .orderBy("query_id")
    )


S07_SQL = f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.label AS cand_label,
         ROUND(list_dot_product(q.v, c.v)
               / (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))),
               6) AS cosine
  FROM base q, base c
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
),
neighbors AS (
  SELECT query_id, cand_label
  FROM (SELECT query_id, cand_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, cand_id ASC) AS rk
        FROM scored)
  WHERE rk <= {KNN_K}
),
votes AS (
  SELECT query_id, cand_label, CAST(COUNT(*) AS BIGINT) AS votes
  FROM neighbors GROUP BY query_id, cand_label
)
SELECT query_id, cand_label AS pred_label, votes
FROM (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, cand_label ASC) AS vr
      FROM votes)
WHERE vr = 1
ORDER BY query_id
"""


def s08_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH ANN path against exact brute-force ground
    truth — the evaluation loop for auditing the derived plane
    count / bucket width
    before trusting the approximate path on a real corpus.

    Scale shape: ground truth is only ever computed for the (small)
    query set, so both inputs are |queries| × k rows; the recall join
    and per-query aggregation are trivial next to the retrieval
    itself. On a 100 TB corpus the exact side runs s01's
    broadcast-queries/stream-corpus plan once per evaluation — an
    accepted offline cost for calibrating the ANN index."""
    exact = s01_cosine_topk(spark, sf_dir).select("query_id", "cand_id")
    ann = s03_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("cand_id").alias("ac")
    )
    hit = exact.join(
        ann,
        (F.col("query_id") == F.col("aq"))
        & (F.col("cand_id") == F.col("ac")),
        "left",
    )
    return (
        hit.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("ac").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


def _s08_sql() -> str:
    return f"""
WITH exact AS ({S01_SQL}),
ann AS ({_s03_sql()})
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.cand_id) AS BIGINT) AS n_hit,
       ROUND(CAST(COUNT(a.cand_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_k
FROM exact e
LEFT JOIN ann a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


K_GRAPH = 3


# The converged kNN-graph edge frame per sf_dir at the corpus-DERIVED
# plane count — the substrate under the whole graph family: s09
# publishes it, s10 (pagerank), s18 (label eval), s22 (k-hop) and s24
# (triangles) all traverse it. Round-13 measurement: each consumer
# re-ran the bucket self-join + cosine + top-k window per CALL (s24's
# remaining 1.84 s at sf0.1 was entirely s09), so the graph is a
# ``"knn_graph"`` session substrate (``session.substrate``), built ONCE
# per session and served cut (a deployment persists the kNN index as a
# table; rebuilding it per traversal query is not the 100 TB shape).
# The frame is lineage-cut by iter_materialize (localCheckpoint, or a
# reliable checkpoint when a checkpoint dir is set), so reuse costs
# nothing.
# Only the derived-plane layout is a substrate — explicit ``n_planes``
# callers (the sf1 occupancy probe) always compute fresh.
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped s09 edge frame ``(src_id, nbr_id, cosine, rk)``
    (unordered; rk ≤ K_GRAPH per src) at the derived plane count."""
    return substrate(
        spark, "knn_graph", sf_dir,
        lambda: iter_materialize(
            _knn_graph_frame(spark, sf_dir, derived_planes(spark, sf_dir))
        ),
    )


def s09_knn_graph(
    spark: SparkSession, sf_dir: str, n_planes: int | None = None
) -> DataFrame:
    """All-corpus kNN graph: every vector's top-``K_GRAPH`` nearest
    neighbours AMONG ITS LSH BUCKET-MATES — the graph-construction step
    under SemDeDup-style semantic dedup, embedding clustering, and
    label propagation. Unlike s03 (small query set vs corpus,
    broadcast), both join sides here are the full corpus: candidates
    come from one shuffle-join on the bucket id, so the pair count is
    Σ|bucket|² ≈ N²/2^planes. That is linear in N ONLY if the plane
    count scales with the corpus (occupancy N/2^planes held constant),
    so the default is now DERIVED from the corpus count
    (:func:`planes_for`, round-12 — RECEIPT_SF10 measured the fixed-7
    trap at 349.8M candidate pairs vs 11.1M at the derived
    planes_for(200k)=13 at 200k vectors; the sf1 probe measured the
    same at sf1). Pass ``n_planes`` explicitly to pin a layout.
    Vectors in singleton buckets have no graph edges by construction
    (production raises recall with multi-probe or band repetition,
    same trade s08 measures).

    Scale shape: one equi-join keyed on the bucket id, exact cosine
    re-rank per candidate pair, per-source top-k window over
    bucket-local groups. No broadcast side — this is the
    both-sides-large ANN shape. At the default (derived) plane count
    the edge frame comes from the session-scoped :func:`knn_graph`
    substrate — built once per session, shared with s10/s18/s22/s24;
    a pinned ``n_planes`` always computes fresh (the occupancy-probe
    contract)."""
    if n_planes is None:
        return knn_graph(spark, sf_dir).orderBy("src_id", "rk")
    return _knn_graph_frame(spark, sf_dir, n_planes).orderBy(
        "src_id", "rk"
    )


def _knn_graph_frame(
    spark: SparkSession, sf_dir: str, n_planes: int
) -> DataFrame:
    """The s09 computation at an explicit plane count (no cache, no
    presentation order): bucket tag → bucket self-join → cosine →
    per-source top-``K_GRAPH`` window."""
    base = _base(spark, sf_dir)
    tagged = base.withColumn("bucket", _bucket_expr(n_planes))
    a = tagged.select(
        F.col("vec_id").alias("src_id"),
        F.col("v").alias("sv"),
        F.col("norm").alias("snorm"),
        "bucket",
    )
    b = tagged.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("v").alias("nv"),
        F.col("norm").alias("nnorm"),
        "bucket",
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("src_id") != F.col("nbr_id"))
        .select(
            "src_id",
            "nbr_id",
            F.round(_cosine("sv", "nv", "snorm", "nnorm"), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc()
    )
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= K_GRAPH)


def _s09_sql() -> str:
    combine = _bucket_sql_expr(MAX_PLANES)
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
pl AS ({_planes_sql()}),
tagged AS (
  SELECT vec_id, v,
         CAST({combine} AS BIGINT)
           & ((CAST(1 AS BIGINT) << (SELECT p FROM pl)) - 1) AS bucket
  FROM base
),
scored AS (
  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         ROUND(list_dot_product(a.v, b.v)
               / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))),
               6) AS cosine
  FROM tagged a
  JOIN tagged b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT src_id, nbr_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY src_id
                            ORDER BY cosine DESC, nbr_id ASC) AS rk
  FROM scored
)
SELECT src_id, nbr_id, cosine, rk
FROM ranked WHERE rk <= {K_GRAPH}
ORDER BY src_id, rk
"""


PR_DAMPING = 0.85
PR_ITERS = 3
PR_ROUND = 12  # per-iteration resync rounding (absorbs sum-order ulps)


def s10_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the s09 kNN similarity graph — the iterative
    graph algorithm as repeated joins + aggregations: documents whose
    embeddings many neighbours point at are corpus "hubs" (useful for
    coreset selection and diversity-aware sampling). Fixed PR_ITERS
    power iterations, damping 0.85; dangling nodes (singleton-bucket
    vectors with no out-edges) keep the base term and do not
    redistribute — the standard simplified formulation, identical on
    both engines.

    Determinism: each iteration's rank is resynced with explicit
    floor-shift rounding (``floor(x·10^k + 0.5)/10^k``) on BOTH
    engines — bit-identical given identical doubles, unlike
    ROUND/F.round whose half-boundary behavior differs between the
    engines (the t11 lesson) — so floating sum-order differences
    cannot compound across iterations.

    Scale shape: each iteration is one equi-join of the rank vector
    (|nodes| rows, 2 cols) onto the edge list plus one partial+final
    agg on the destination — the classic iterate-as-dataflow plan. The
    edge list is materialized ONCE (iter_materialize — same per-round
    pattern as d07's contraction: localCheckpoint by default, a
    reliable checkpoint when the SparkContext has a checkpoint dir; a
    deployment writes it as a table)
    so the s09 self-join is not recomputed 2·iters+1 times."""
    nodes = _base(spark, sf_dir).select("vec_id")
    n = nodes.count()  # one scalar to the driver (constant in the plan)
    if n == 0:
        # all embeddings malformed: empty result, matching the oracle
        # (unguarded, 1/n would raise on the driver)
        return spark.createDataFrame(
            [], "vec_id long, pagerank double, out_degree long"
        )
    # the session-scoped s09 substrate is already lineage-cut
    # (knn_graph's iter_materialize), so the per-iteration joins read
    # checkpointed (long, long, double, long) rows — no extra cut here
    edges = knn_graph(spark, sf_dir).select("src_id", "nbr_id")
    outdeg = edges.groupBy("src_id").agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    base = (1.0 - PR_DAMPING) / n

    def resync(col, k):
        # floor-shift rounding: identical on both engines at half points
        return F.floor(col * F.lit(10.0 ** k) + F.lit(0.5)) / F.lit(
            10.0 ** k
        )

    import math

    r0 = math.floor(1.0 / n * 10 ** PR_ROUND + 0.5) / 10 ** PR_ROUND
    ranks = nodes.select("vec_id", F.lit(r0).alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(
                ranks.withColumnRenamed("vec_id", "src_id"), "src_id"
            )
            .join(outdeg, "src_id")
            .groupBy("nbr_id")
            .agg(F.sum(F.col("r") / F.col("outdeg")).alias("inflow"))
        )
        ranks = (
            nodes.join(
                contrib.withColumnRenamed("nbr_id", "vec_id"),
                "vec_id",
                "left",
            )
            .select(
                "vec_id",
                resync(
                    F.lit(base)
                    + PR_DAMPING * F.coalesce("inflow", F.lit(0.0)),
                    PR_ROUND,
                ).alias("r"),
            )
        )
    return (
        ranks.join(outdeg.withColumnRenamed("src_id", "vec_id"),
                   "vec_id", "left")
        .select(
            "vec_id",
            resync(F.col("r"), 8).alias("pagerank"),
            F.coalesce("outdeg", F.lit(0)).cast("long").alias("out_degree"),
        )
        .orderBy("vec_id")
    )


def _s10_sql() -> str:
    s09 = _s09_sql().strip()
    # re-root s09's full query as the edge CTE
    iters = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""
contrib{k} AS (
  SELECT e.nbr_id AS vec_id,
         SUM(r.r / d.outdeg) AS inflow
  FROM edges e
  JOIN {prev} r ON r.vec_id = e.src_id
  JOIN outdeg d ON d.src_id = e.src_id
  GROUP BY e.nbr_id
),
r{k} AS (
  SELECT n.vec_id,
         FLOOR(((1.0 - {PR_DAMPING}) / (SELECT n FROM nn)
                + {PR_DAMPING} * COALESCE(c.inflow, 0.0))
               * 1e{PR_ROUND} + 0.5) / 1e{PR_ROUND} AS r
  FROM nodes n LEFT JOIN contrib{k} c ON c.vec_id = n.vec_id
)""")
        prev = f"r{k}"
    return f"""
WITH edges AS (
  SELECT src_id, nbr_id FROM ({s09})
),
nodes AS (
  SELECT vec_id FROM embeddings WHERE {valid_emb_sql(DIM)}
),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (
  SELECT src_id, COUNT(*) AS outdeg FROM edges GROUP BY src_id
),
r0 AS (
  SELECT vec_id,
         FLOOR(1.0 / (SELECT n FROM nn) * 1e{PR_ROUND} + 0.5)
           / 1e{PR_ROUND} AS r
  FROM nodes
),{",".join(iters)}
SELECT n.vec_id,
       FLOOR(r.r * 1e8 + 0.5) / 1e8 AS pagerank,
       CAST(COALESCE(d.outdeg, 0) AS BIGINT) AS out_degree
FROM nodes n
JOIN {prev} r ON r.vec_id = n.vec_id
LEFT JOIN outdeg d ON d.src_id = n.vec_id
ORDER BY n.vec_id
"""


# SemDeDup threshold: tuned to the synthetic fixture's cosine range
# (random vectors concentrate near 0; same-bucket pairs reach ~0.47).
# Real embedding corpora run this at ~0.95 — the knob, like the
# plane floor,
# is data-dependent and the structure is threshold-invariant.
SEMDEDUP_TAU = 0.3


def semdedup_pruned(tagged: DataFrame) -> DataFrame:
    """d15's prune rule on a tagged (vec_id, v, norm, bucket) frame:
    DISTINCT (vec_id, bucket) of every vector with a τ-similar
    smaller-id bucket-mate. Shared by the batch audit and the
    streaming admitter's within-batch pass (one source of truth for
    the pessimistic-admission predicate)."""
    a = tagged.alias("a")
    b = tagged.alias("b")
    cos = F.round(_cosine("a.v", "b.v", "a.norm", "b.norm"), 6)
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= SEMDEDUP_TAU)
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("b.bucket").alias("bucket"),
        )
        .distinct()
    )


def d15_semdedup(
    spark: SparkSession, sf_dir: str, n_planes: int | None = None
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): LSH
    buckets stand in for the k-means clusters, and within each bucket a
    vector is pruned iff ANY smaller-id bucket-mate is τ-similar
    (cosine ≥ SEMDEDUP_TAU on the shared rounded scorer).

    Pessimistic admission, deliberately: no chaining through pruned
    vectors (a vector similar only to an already-pruned one is still
    pruned), so the decision is ONE bucket-equi pair join + a
    semi-join — no iteration, no transitive closure, deterministic.
    Output is the per-bucket audit: corpus size, pruned count, and the
    pruned fraction.

    Scale shape: same as s09 — candidates come only from bucket
    collisions (occupancy² per bucket, bounded by the corpus-derived
    plane count; the streamed admitter must be sized with the SAME
    value for the exact-twin contract to hold — see
    streaming.corpus_stream.semdedup_admit_batch); digest-width rows
    cross the shuffle; the final audit is one hash agg. Cites
    SURVEY.md §2b dedup family; the exact-baseline embedding near-dup
    twin is dedup.d05."""
    base = _base(spark, sf_dir)
    if n_planes is None:
        n_planes = derived_planes(spark, sf_dir)
    tagged = base.select(
        "vec_id", "v", "norm", _bucket_expr(n_planes).alias("bucket")
    )
    pruned = semdedup_pruned(tagged)
    n_pruned = pruned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_pruned")
    )
    sizes = tagged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    return (
        sizes.join(n_pruned, "bucket", "left")
        .select(
            "bucket",
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.coalesce("n_pruned", F.lit(0)).cast("long").alias("n_pruned"),
            F.round(
                F.coalesce("n_pruned", F.lit(0))
                / F.col("n_vectors"), 6
            ).alias("pruned_frac"),
        )
        .orderBy("bucket")
    )


def _d15_sql() -> str:
    combine = _bucket_sql_expr(MAX_PLANES)
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
pl AS ({_planes_sql()}),
tagged AS (
  SELECT vec_id, v,
         CAST({combine} AS BIGINT)
           & ((CAST(1 AS BIGINT) << (SELECT p FROM pl)) - 1) AS bucket
  FROM base
),
pruned AS (
  SELECT DISTINCT b.vec_id, b.bucket
  FROM tagged a JOIN tagged b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v)
          / (SQRT(list_dot_product(a.v, a.v))
             * SQRT(list_dot_product(b.v, b.v))), 6)
        >= {SEMDEDUP_TAU}
),
np AS (SELECT bucket, COUNT(*) AS n_pruned FROM pruned GROUP BY bucket),
sizes AS (SELECT bucket, COUNT(*) AS n_vectors FROM tagged GROUP BY bucket)
SELECT s.bucket,
       CAST(s.n_vectors AS BIGINT) AS n_vectors,
       CAST(COALESCE(np.n_pruned, 0) AS BIGINT) AS n_pruned,
       ROUND(CAST(COALESCE(np.n_pruned, 0) AS DOUBLE) / s.n_vectors, 6)
         AS pruned_frac
FROM sizes s LEFT JOIN np USING (bucket)
ORDER BY s.bucket
"""


def s11_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health audit over the s05 trained cells: per cell, the
    member count, occupancy share, and compactness (mean / max squared
    euclidean distance to the cell centroid — the inertia the index
    build would minimize). The check a pipeline runs before committing
    to an IVF layout: a dominant cell or an inflated inertia means the
    probe cost model is wrong and the index needs re-training.

    Scale shape: centroids are trained small and broadcast as literals
    (the s05 shape); distance is ‖v‖² − 2·(v·c) + ‖c‖², all codegen
    arithmetic on the scan projection; ONE hash agg on the cell key;
    the occupancy share joins back a broadcast one-row total."""
    base = _base(spark, sf_dir)
    corpus = base.filter(F.col("vec_id") >= N_QUERIES)
    cents = _train_centroids(base, sf_dir)
    if not cents:
        return spark.createDataFrame(
            [], "cell long, n_vectors long, share double,"
            " mean_sqdist double, max_sqdist double"
        )
    cnorm2 = {k: sum(x * x for x in cents[k]) for k in cents}
    with_dots = corpus.withColumn("_dots", _dots_array(cents))
    pos = _argmax_pos("_dots")
    cell = _pos_payload(cents, {k: k for k in cents}, pos).cast("long")
    best = F.array_max("_dots")
    cc2 = _pos_payload(cents, cnorm2, pos)
    # dot(v,v), not norm², for bit-parity with the oracle's
    # list_dot_product(v, v) (sqrt-then-square would differ in the
    # last ulp before rounding)
    sqd = dot("v", F.col("v")) - 2.0 * best + cc2
    assigned = with_dots.select(cell.alias("cell"), sqd.alias("sqd"))
    per_cell = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.avg("sqd"), 4).alias("mean_sqdist"),
        F.round(F.max("sqd"), 4).alias("max_sqdist"),
    )
    total = corpus.agg(F.count(F.lit(1)).cast("double").alias("t"))
    return (
        per_cell.crossJoin(F.broadcast(total))
        .select(
            "cell",
            "n_vectors",
            F.round(F.col("n_vectors") / F.col("t"), 6).alias("share"),
            "mean_sqdist",
            "max_sqdist",
        )
        .orderBy("cell")
    )


def _s11_sql() -> str:
    centv = "[" + ", ".join(f"m{i}" for i in range(DIM)) + "]"
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
{_train_cte_sql()},
centv AS (
  SELECT g, {centv} AS cv FROM seeds
),
dotted AS (
  SELECT b.vec_id, b.v, c.g, c.cv, list_dot_product(b.v, c.cv) AS d
  FROM base b CROSS JOIN centv c
  WHERE b.vec_id >= {N_QUERIES}
),
assigned AS (
  SELECT vec_id,
         CAST(g AS BIGINT) AS cell,
         list_dot_product(v, v) - 2 * d + list_dot_product(cv, cv) AS sqd
  FROM (
    SELECT vec_id, v, g, cv, d,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d DESC, g ASC) AS rn
    FROM dotted
  )
  WHERE rn = 1
),
t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM assigned)
SELECT cell,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(COUNT(*) / t.t, 6) AS share,
       ROUND(AVG(sqd), 4) AS mean_sqdist,
       ROUND(MAX(sqd), 4) AS max_sqdist
FROM assigned, t
GROUP BY cell, t.t
ORDER BY cell
"""


PQ_SUBSPACES = 8
PQ_SUBDIM = DIM // PQ_SUBSPACES  # 8 dims per subspace


def _pq_sub_dist_sql(vexpr: str, s: int, g: int, cents: dict) -> str:
    """Spark-SQL text of the squared L2 distance from ``vexpr``'s
    subspace-``s`` slice to codeword ``g`` (the class-g centroid
    sliced to that subspace). SINGLE SOURCE for the s12 assignment and
    the s13/s14/s17 lookup-table construction — the two sides of the
    PQ contract must never disagree on the distance formula.

    Emitted as TEXT (one JVM parse per consuming projection) rather
    than composed Column objects: the 8 subspaces × K codewords × two
    HOF dot products each used to cost ~1500 py4j round-trips PER
    QUERY BUILD — profiling showed s13 spending 3.4 s building the
    DataFrame against 0.9 s executing it. The parsed expression tree
    is identical (same zip_with/aggregate sequential-order dot, same
    float literals via repr round-trip), so oracle bit-parity holds."""
    lo = s * PQ_SUBDIM
    sub = f"slice({vexpr}, {lo + 1}, {PQ_SUBDIM})"
    cw = [cents[g][lo + i] for i in range(PQ_SUBDIM)]
    c2 = sum(x * x for x in cw)
    return (
        f"({_DOT_SQL_T.format(a=sub, b=sub)}"
        f" - 2.0D * {_DOT_SQL_T.format(a=sub, b=_cw_sql(cw))}"
        f" + cast({c2!r} as double))"
    )


def _pq_sub_dist(vcol: str, s: int, g: int, cents: dict):
    """Column form of `_pq_sub_dist_sql` (same single source)."""
    return F.expr(_pq_sub_dist_sql(vcol, s, g, cents))


def _pq_dist_arr(vcol: str, s: int, cents: dict, keys: list):
    """array(dist to each codeword of subspace ``s``, in ``keys``
    order) — ONE parsed expression for the whole K-codeword array."""
    return F.expr(
        "array("
        + ", ".join(_pq_sub_dist_sql(vcol, s, g, cents) for g in keys)
        + ")"
    )


def _pq_cand_sql() -> str:
    """The per-(vector, subspace, codeword) distance UNION — shared by
    _s12_sql and _s13_sql (expects ``corpus``/``seeds`` CTEs in
    scope)."""
    rows = []
    for s in range(PQ_SUBSPACES):
        lo = s * PQ_SUBDIM
        sub = f"v[{lo + 1}:{lo + PQ_SUBDIM}]"
        cw = ("[" + ", ".join(f"m{lo + i}" for i in range(PQ_SUBDIM))
              + "]")
        rows.append(
            f"SELECT vec_id, {s} AS s, g,\n"
            f"       list_dot_product({sub}, {sub})\n"
            f"       - 2 * list_dot_product({sub}, {cw})\n"
            f"       + list_dot_product({cw}, {cw}) AS dist\n"
            f"FROM corpus CROSS JOIN seeds"
        )
    return "\nUNION ALL\n".join(rows)


def s12_product_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011) — the IVF-PQ storage
    half s06's scalar int8 can't reach: the 64-dim vector splits into
    8 subvectors, each encoded as the id of its nearest codeword from
    a per-subspace codebook (here 4 codewords per subspace = the s05
    residue-class means, sliced per subspace — deterministic training
    both engines reproduce). 8 codes × 2 bits ≈ 32× compression; the
    audit reports each vector's code word and total squared
    reconstruction-ish error (sum over subspaces of the distance to
    the chosen codeword).

    Scale shape: codebooks train on ONE hash agg (the shared s05 train
    collect — K×64 doubles) and enter the plan as literals; assignment
    explodes each vector into |subspaces|×K candidate rows (a bounded
    32× expansion of |corpus|, each row a handful of doubles, NEVER a
    join), takes the per-(vector, subspace) argmin with a keyed
    window, and folds back to one row per vector. No shuffle touches
    raw vectors except the explode's own exchange."""
    base = _base(spark, sf_dir)
    corpus = base.filter(F.col("vec_id") >= N_QUERIES)
    cents = _train_centroids(base, sf_dir)
    if not cents:
        return spark.createDataFrame(
            [], "vec_id long, code string, recon_sq_err double"
        )
    # Round 13: the per-(vector, subspace) argmin is ROW-LOCAL — s13's
    # code assignment already proves it (distance arrays + array_min /
    # array_position, first occurrence ≡ lowest codeword on ties, the
    # same tiebreak the old window's ORDER BY dist, g applied) — so
    # the |subspaces|×K explode, the keyed argmin window, and the
    # per-vector fold (two exchanges + a sort over a 32×-expanded
    # corpus) collapse into one scan projection. The reconstruction
    # error sums the 8 per-subspace minima in fixed subspace order;
    # the old groupBy sum merged partials in partition order, so both
    # live under the same round(·, 4) the oracle comparison absorbs.
    # Plan: 6 exchanges → presentation sort only; sf0.1 wall
    # 1.28 s → 0.61 s, output verified bit-identical to the explode
    # form at sf0.1/sf0.01. Oracle twin unchanged (s12's
    # explode+window SQL states the same argmin).
    keys = sorted(cents)
    with_d = corpus.select(
        "vec_id",
        *[
            _pq_dist_arr("v", s, cents, keys).alias(f"_d{s}")
            for s in range(PQ_SUBSPACES)
        ],
    )
    key_arr = F.array(*[F.lit(int(g)) for g in keys])

    def best_g(s: int):
        return F.element_at(
            key_arr,
            F.array_position(
                F.col(f"_d{s}"), F.array_min(f"_d{s}")
            ).cast("int"),
        )

    err = None
    for s in range(PQ_SUBSPACES):
        term = F.array_min(f"_d{s}")
        err = term if err is None else err + term
    return (
        with_d.select(
            "vec_id",
            F.concat_ws(
                "-",
                *[
                    best_g(s).cast("string")
                    for s in range(PQ_SUBSPACES)
                ],
            ).alias("code"),
            F.round(err, 4).alias("recon_sq_err"),
        )
        .orderBy("vec_id")
    )


def _s12_sql() -> str:
    cand = _pq_cand_sql()
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
{_train_cte_sql()},
corpus AS (
  SELECT vec_id, v FROM base WHERE vec_id >= {N_QUERIES}
),
cand AS (
{cand}
),
best AS (
  SELECT vec_id, s, g, dist
  FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, g ASC) AS rn
    FROM cand
  )
  WHERE rn = 1
)
SELECT vec_id,
       STRING_AGG(CAST(g AS VARCHAR), '-' ORDER BY s) AS code,
       ROUND(SUM(dist), 4) AS recon_sq_err
FROM best
GROUP BY vec_id
ORDER BY vec_id
"""


def s13_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (the query half of IVF-PQ): the
    corpus is represented ONLY by its s12 codes; each query computes
    its per-subspace distance to every codeword (a |subspaces|×K
    lookup table) and a candidate's approximate distance is the sum of
    table entries its codes select. Top-k per query by that ADC
    distance — the memory-bound ANN shape where the corpus never
    touches float vectors at query time.

    Scale shape: codes are 8 small ints per vector, computed in the
    scan projection (argmin over literal codebooks — no explode, no
    join); the 10-query side broadcasts and the coded corpus STREAMS
    past it (the s01 exact-baseline shape, but over 32-byte codes
    instead of 512-byte vectors). Ranking is on the ROUNDED distance
    (both engines), cand_id tiebreak."""
    base = _base(spark, sf_dir)
    cents = _train_centroids(base, sf_dir)
    if not cents:
        return spark.createDataFrame(
            [], "query_id long, cand_id long, adc_dist double, rk long"
        )
    keys = sorted(cents)

    def dist_arr(vcol: str, s: int):
        return _pq_dist_arr(vcol, s, cents, keys)

    corpus = base.filter(F.col("vec_id") >= N_QUERIES)
    # Two-step select: the per-subspace distance arrays materialize in
    # their own projection, then the argmin reads each array twice
    # (min + position) WITHOUT re-evaluating the HOF dot products —
    # the earlier when-chain argmin re-ran every interpreted dot per
    # comparison branch (measured ~6× the work). Codes are the 1-based
    # POSITION within sorted(keys) (first occurrence on ties ⇒ lowest
    # key, matching the oracle's ORDER BY dist, g), so a missing
    # residue class cannot desynchronize code values from dtable slots.
    with_d = corpus.select(
        F.col("vec_id").alias("cand_id"),
        *[dist_arr("v", s).alias(f"_d{s}") for s in range(PQ_SUBSPACES)],
    )
    codes = with_d.select(
        "cand_id",
        *[
            F.array_position(
                F.col(f"_d{s}"), F.array_min(f"_d{s}")
            ).cast("int").alias(f"code_{s}")
            for s in range(PQ_SUBSPACES)
        ],
    )
    # The ADC LOOKUP TABLE, materialized per query BEFORE the join:
    # dtable[s][g] = distance of the query's subvector s to codeword g
    # (|subspaces|×K doubles, computed once per query row on the
    # 10-row broadcast side). The per-candidate hot path is then pure
    # array indexing — no dot product ever runs per (query, candidate)
    # pair, which is the entire point of ADC.
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.array(
            *[dist_arr("v", s) for s in range(PQ_SUBSPACES)]
        ).alias("dtable"),
    )
    lookups = [
        F.element_at(
            F.element_at("dtable", s + 1), F.col(f"code_{s}")
        )
        for s in range(PQ_SUBSPACES)
    ]
    adc = sum(lookups[1:], lookups[0])
    scored = codes.crossJoin(F.broadcast(queries)).select(
        "query_id", "cand_id", F.round(adc, 6).alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("query_id", "rk")
    )


def _s13_sql() -> str:
    # corpus code assignment reuses the SHARED cand fragment (s12's);
    # the ADC side recomputes the query-to-codeword distance per
    # (query, code) row — the oracle states the semantics, the Spark
    # plan holds the lookup-table structure
    adc_cases = []
    for s in range(PQ_SUBSPACES):
        lo = s * PQ_SUBDIM
        qsub = f"qv[{lo + 1}:{lo + PQ_SUBDIM}]"
        qcw = ("[" + ", ".join(f"sd.m{lo + i}" for i in range(PQ_SUBDIM))
               + "]")
        adc_cases.append(
            f"WHEN b.s = {s} THEN"
            f" list_dot_product(q.{qsub}, q.{qsub})"
            f" - 2 * list_dot_product(q.{qsub}, {qcw})"
            f" + list_dot_product({qcw}, {qcw})"
        )
    cand = _pq_cand_sql()
    case = "CASE " + "\n           ".join(adc_cases) + " END"
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
{_train_cte_sql()},
corpus AS (
  SELECT vec_id, v FROM base WHERE vec_id >= {N_QUERIES}
),
cand AS (
{cand}
),
best AS (
  SELECT vec_id AS cand_id, s, g
  FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, g ASC) AS rn
    FROM cand
  )
  WHERE rn = 1
),
queries AS (
  SELECT vec_id AS query_id, v AS qv FROM base
  WHERE vec_id < {N_QUERIES}
),
scored AS (
  -- list(... ORDER BY b.s) + list_sum: the 8 subspace lookups
  -- accumulate in fixed s=0..7 order, matching Spark's sequential
  -- sum — an unordered SUM() leaves the non-associative FP
  -- accumulation order to the engine, which can flip the 6-decimal
  -- round on boundary values (round-4 advice).
  SELECT q.query_id, b.cand_id,
         ROUND(list_sum(list({case} ORDER BY b.s)), 6) AS adc_dist
  FROM best b
  JOIN seeds sd ON sd.g = b.g
  CROSS JOIN queries q
  GROUP BY q.query_id, b.cand_id
),
ranked AS (
  SELECT query_id, cand_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, cand_id ASC) AS rk
  FROM scored
)
SELECT query_id, cand_id, adc_dist, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


MRL_DIMS = (8, 16, 32)  # truncation prefixes audited by s15


def s15_mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit (Kusupati et al. 2022): for
    each prefix length d in MRL_DIMS, run exact cosine top-k using only
    the FIRST d dimensions and report per-query recall against the
    full-DIM ground truth (s01). The measurement that decides whether
    an embedding column can be stored/searched at a fraction of its
    width — the storage-side sibling of s06/s12's quantization audits.

    Scale shape: like s08, this is offline index calibration — every
    brute-force pass broadcasts the small query side and streams the
    corpus once per d (|MRL_DIMS| scans); the recall join operates on
    |queries|×k rows. The slice+dot arithmetic is identical in both
    engines (list_dot_product over v[1:d])."""
    base = _base(spark, sf_dir)
    exact = s01_cosine_topk(spark, sf_dir).select("query_id", "cand_id")

    def trunc_topk(d: int) -> DataFrame:
        # a vector whose first d dims are all zero has a zero PREFIX
        # norm even though the full-DIM admission gate passed — its
        # cosine is NULL (0/0) and would pollute the row_number top-k
        # with unrankable rows (round-5 advice); drop such rows on
        # BOTH sides so a zero-prefix query scores recall 0 instead
        sq = F.slice(F.col("v"), 1, d)
        q = base.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), sq.alias("qv")
        ).filter(dot("qv", F.col("qv")) > 0)
        c = base.filter(F.col("vec_id") >= N_QUERIES).select(
            F.col("vec_id").alias("cand_id"), sq.alias("cv")
        ).filter(dot("cv", F.col("cv")) > 0)
        cos = F.round(
            dot("qv", F.col("cv"))
            / (
                F.sqrt(dot("qv", F.col("qv")))
                * F.sqrt(dot("cv", F.col("cv")))
            ),
            6,
        )
        scored = F.broadcast(q).crossJoin(c).select(
            "query_id", "cand_id", cos.alias("cosine")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("cand_id").asc()
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
            .select(
                F.lit(d).cast("int").alias("d_trunc"),
                F.col("query_id").alias("aq"),
                F.col("cand_id").alias("ac"),
            )
        )

    ann = trunc_topk(MRL_DIMS[0])
    for d in MRL_DIMS[1:]:
        ann = ann.unionByName(trunc_topk(d))
    exactd = exact.select(
        "query_id",
        "cand_id",
        F.explode(
            F.array(*[F.lit(d).cast("int") for d in MRL_DIMS])
        ).alias("d_trunc"),
    )
    ann = ann.withColumnRenamed("d_trunc", "ad")
    hit = exactd.join(
        ann,
        (F.col("d_trunc") == F.col("ad"))
        & (F.col("query_id") == F.col("aq"))
        & (F.col("cand_id") == F.col("ac")),
        "left",
    )
    return (
        hit.groupBy("d_trunc", "query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("ac").cast("long").alias("n_hit"),
        )
        .select(
            "d_trunc",
            "query_id",
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias(
                "recall_at_k"
            ),
        )
        .orderBy("d_trunc", "query_id")
    )


def _s15_sql() -> str:
    blocks = []
    for d in MRL_DIMS:
        blocks.append(
            f"""  SELECT * FROM (
    SELECT {d} AS d_trunc, query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, cand_id ASC) AS rk
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             ROUND(list_dot_product(q.v[1:{d}], c.v[1:{d}])
                   / (SQRT(list_dot_product(q.v[1:{d}], q.v[1:{d}]))
                      * SQRT(list_dot_product(c.v[1:{d}], c.v[1:{d}]))),
                   6) AS cosine
      FROM base q, base c
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        AND list_dot_product(q.v[1:{d}], q.v[1:{d}]) > 0
        AND list_dot_product(c.v[1:{d}], c.v[1:{d}]) > 0
    )
  ) WHERE rk <= {TOP_K}"""
        )
    ann = "\nUNION ALL\n".join(blocks)
    dims = ", ".join(str(d) for d in MRL_DIMS)
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
exact AS ({S01_SQL}),
ann AS (
{ann}
),
dims AS (SELECT UNNEST([{dims}]) AS d_trunc),
exactd AS (
  SELECT CAST(d.d_trunc AS INTEGER) AS d_trunc, e.query_id, e.cand_id
  FROM exact e CROSS JOIN dims d
)
SELECT e.d_trunc, e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.cand_id) AS BIGINT) AS n_hit,
       ROUND(CAST(COUNT(a.cand_id) AS DOUBLE) / COUNT(*), 6)
         AS recall_at_k
FROM exactd e
LEFT JOIN ann a ON a.d_trunc = e.d_trunc
               AND a.query_id = e.query_id AND a.cand_id = e.cand_id
GROUP BY e.d_trunc, e.query_id
ORDER BY e.d_trunc, e.query_id
"""


N_PROBE = 2  # coarse cells each query probes in s14


def s14_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVF-PQ index, composed end to end (Jégou et al. 2011):
    Lloyd-trained coarse centroids partition the corpus into cells
    (s05's assignment), every corpus vector is stored only as its s12
    PQ codes, and each query (a) picks its N_PROBE nearest coarse
    cells by inner product, (b) builds its ADC lookup table once, and
    (c) scores ONLY the coded vectors inside the probed cells by
    summed codeword lookups. Top-k per query on the rounded ADC
    distance, cand_id tiebreak.

    Scale shape: the corpus is hash-partitioned by cell and carries
    32-byte codes, not vectors; the 10-query side (probe cells + ADC
    tables) broadcasts and meets the corpus on a cell EQUI-join, so
    each query touches |corpus| × (N_PROBE / K) candidates — the knob
    (nprobe, K) that makes ANN cost sub-linear in the corpus. No dot
    product ever runs per (query, candidate) pair; the hot path is
    array indexing, like s13, but over the probed subset only."""
    base = _base(spark, sf_dir)
    cents = _train_centroids(base, sf_dir)
    if not cents:
        return spark.createDataFrame(
            [],
            "query_id long, cand_id long, probe_cell long,"
            " adc_dist double, rk long",
        )
    keys = sorted(cents)

    def dist_arr(vcol: str, s: int):
        return _pq_dist_arr(vcol, s, cents, keys)

    corpus = _assign_cell_df(
        base.filter(F.col("vec_id") >= N_QUERIES), cents
    )
    with_d = corpus.select(
        F.col("vec_id").alias("cand_id"),
        F.col("cell"),
        *[dist_arr("v", s).alias(f"_d{s}") for s in range(PQ_SUBSPACES)],
    )
    codes = with_d.select(
        "cand_id",
        "cell",
        *[
            F.array_position(F.col(f"_d{s}"), F.array_min(f"_d{s}"))
            .cast("int")
            .alias(f"code_{s}")
            for s in range(PQ_SUBSPACES)
        ],
    )
    # query side: the shared nprobe cell selection + the ADC table
    q = base.filter(F.col("vec_id") < N_QUERIES).withColumn(
        "_cd", _dots_array(cents)
    )
    q, probe_cells = _probe_cell_cols(q, cents)
    probes = q.select(
        F.col("vec_id").alias("query_id"),
        F.array(
            *[dist_arr("v", s) for s in range(PQ_SUBSPACES)]
        ).alias("dtable"),
        F.explode(F.array(*probe_cells)).alias("cell"),
    )
    lookups = [
        F.element_at(F.element_at("dtable", s + 1), F.col(f"code_{s}"))
        for s in range(PQ_SUBSPACES)
    ]
    adc = sum(lookups[1:], lookups[0])
    scored = codes.join(F.broadcast(probes), "cell").select(
        "query_id",
        "cand_id",
        F.col("cell").alias("probe_cell"),
        F.round(adc, 6).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("query_id", "rk")
    )


def _s14_sql() -> str:
    centv = "[" + ", ".join(f"m{i}" for i in range(DIM)) + "]"
    cand = _pq_cand_sql()
    adc_cases = []
    for s in range(PQ_SUBSPACES):
        lo = s * PQ_SUBDIM
        qsub = f"qv[{lo + 1}:{lo + PQ_SUBDIM}]"
        qcw = (
            "[" + ", ".join(f"sd.m{lo + i}" for i in range(PQ_SUBDIM)) + "]"
        )
        adc_cases.append(
            f"WHEN b.s = {s} THEN"
            f" list_dot_product({qsub}, {qsub})"
            f" - 2 * list_dot_product({qsub}, {qcw})"
            f" + list_dot_product({qcw}, {qcw})"
        )
    case = "CASE " + "\n           ".join(adc_cases) + " END"
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
{_train_cte_sql()},
centv AS (
  SELECT g, {centv} AS cv FROM seeds
),
corpus AS (
  SELECT vec_id, v FROM base WHERE vec_id >= {N_QUERIES}
),
assigned AS (
  SELECT vec_id, CAST(g AS BIGINT) AS cell
  FROM (
    SELECT b.vec_id, c.g,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                ORDER BY list_dot_product(b.v, c.cv) DESC, c.g ASC) AS rn
    FROM corpus b CROSS JOIN centv c
  ) WHERE rn = 1
),
cand AS (
{cand}
),
best AS (
  SELECT vec_id AS cand_id, s, g
  FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, g ASC) AS rn
    FROM cand
  )
  WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, qv, CAST(g AS BIGINT) AS cell
  FROM (
    SELECT b.vec_id, b.v AS qv, c.g,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                ORDER BY list_dot_product(b.v, c.cv) DESC, c.g ASC) AS rn
    FROM base b CROSS JOIN centv c
    WHERE b.vec_id < {N_QUERIES}
  ) WHERE rn <= {N_PROBE}
),
scored AS (
  SELECT q.query_id, a.cell AS probe_cell, b.cand_id,
         ROUND(list_sum(list({case} ORDER BY b.s)), 6) AS adc_dist
  FROM qprobe q
  JOIN assigned a ON a.cell = q.cell
  JOIN best b ON b.cand_id = a.vec_id
  JOIN seeds sd ON sd.g = b.g
  GROUP BY q.query_id, a.cell, b.cand_id
),
ranked AS (
  SELECT query_id, cand_id, probe_cell, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, cand_id ASC) AS rk
  FROM scored
)
SELECT query_id, cand_id, probe_cell, adc_dist, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


def s18_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation quality audit over the s09 kNN graph: every
    labeled vector takes the majority label of its labeled graph
    neighbours (votes desc, label asc — s07's tie rule) and the
    CONFUSION MATRIX (true_label × pred_label counts + shares)
    measures how label-consistent the embedding space is — the
    go/no-go check before trusting kNN auto-tagging (s07) on unlabeled
    data at corpus scale.

    Scale shape: the s09 graph build dominates (LSH bucket self-join);
    the eval adds two |edges|-sized equi-joins against the (vec_id,
    label) projection, one vote agg keyed on (src, label), and a
    |labels|²-row confusion agg with a broadcast one-row total.
    Vectors with no labeled neighbour drop out (no vote exists)."""
    g = knn_graph(spark, sf_dir).select("src_id", "nbr_id")
    emb = (
        valid_embeddings(table(spark, sf_dir, "embeddings"), DIM)
        .select("vec_id", "label")
        .filter(F.col("label").isNotNull())
    )
    votes = (
        g.join(
            emb.select(
                F.col("vec_id").alias("src_id"),
                F.col("label").alias("true_label"),
            ),
            "src_id",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("nbr_id"),
                F.col("label").alias("nbr_label"),
            ),
            "nbr_id",
        )
        .groupBy("src_id", "true_label", "nbr_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    pick = Window.partitionBy("src_id").orderBy(
        F.col("votes").desc(), F.col("nbr_label").asc()
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(pick))
        .filter(F.col("vr") == 1)
        .select("src_id", "true_label", F.col("nbr_label").alias("pred_label"))
    )
    confusion = pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    total = confusion.agg(
        F.sum("n_vectors").cast("double").alias("t")
    )
    return (
        confusion.crossJoin(F.broadcast(total))
        .select(
            "true_label",
            "pred_label",
            "n_vectors",
            F.round(F.col("n_vectors") / F.col("t"), 6).alias("share"),
        )
        .orderBy("true_label", "pred_label")
    )


def _s18_sql() -> str:
    return f"""
WITH g AS ({_s09_sql()}),
emb AS (
  SELECT vec_id, label FROM embeddings
  WHERE {valid_emb_sql(DIM)} AND label IS NOT NULL
),
votes AS (
  SELECT g.src_id, s.label AS true_label, n.label AS nbr_label,
         COUNT(*) AS votes
  FROM g
  JOIN emb s ON s.vec_id = g.src_id
  JOIN emb n ON n.vec_id = g.nbr_id
  GROUP BY g.src_id, s.label, n.label
),
pred AS (
  SELECT src_id, true_label, nbr_label AS pred_label
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                 ORDER BY votes DESC, nbr_label ASC) AS vr
    FROM votes
  ) WHERE vr = 1
),
confusion AS (
  SELECT true_label, pred_label,
         CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM pred GROUP BY true_label, pred_label
),
t AS (SELECT CAST(SUM(n_vectors) AS DOUBLE) AS t FROM confusion)
SELECT true_label, pred_label, n_vectors,
       ROUND(n_vectors / t.t, 6) AS share
FROM confusion, t
ORDER BY true_label, pred_label
"""


PROBE_SWEEP = (1, 2, 3)  # nprobe values s17 audits


def s17_probe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe tuning curve for the IVF-PQ index (s14): per-query
    recall@k of the ADC search against s01 exact ground truth at
    nprobe ∈ PROBE_SWEEP — the knob analysis that decides how many
    cells a deployment probes (recall rises with nprobe, cost rises
    linearly; this measures WHERE the curve flattens, the same role
    the s09 plane-occupancy study plays for LSH).

    Scale shape: the scored candidate set is built ONCE with each
    query's probe RANK attached (cells ranked by argmax dot via a
    sorted (−dot, g) struct array — negation keeps doubles exact, ties
    fall to the lowest key like the oracle's ROW_NUMBER), then each
    nprobe tier is a filter + per-query top-k over that one frame; the
    corpus side is s14's (cell, codes) broadcast-probe join, paid
    once."""
    base = _base(spark, sf_dir)
    cents = _train_centroids(base, sf_dir)
    if not cents:
        return spark.createDataFrame(
            [],
            "nprobe int, query_id long, n_exact long, n_hit long,"
            " recall_at_k double",
        )
    keys = sorted(cents)
    max_probe = min(max(PROBE_SWEEP), len(keys))

    def dist_arr(vcol: str, s: int):
        return _pq_dist_arr(vcol, s, cents, keys)

    corpus = _assign_cell_df(
        base.filter(F.col("vec_id") >= N_QUERIES), cents
    )
    with_d = corpus.select(
        F.col("vec_id").alias("cand_id"),
        F.col("cell"),
        *[dist_arr("v", s).alias(f"_d{s}") for s in range(PQ_SUBSPACES)],
    )
    codes = with_d.select(
        "cand_id",
        "cell",
        *[
            F.array_position(F.col(f"_d{s}"), F.array_min(f"_d{s}"))
            .cast("int")
            .alias(f"code_{s}")
            for s in range(PQ_SUBSPACES)
        ],
    )
    # per-query cell ranking: sort (−dot, g) structs — rank r is the
    # r-th nearest centroid under (dot DESC, g ASC)
    ranked_cells = F.array_sort(
        F.array(
            *[
                F.struct(
                    (
                        -dot(
                            "v",
                            F.array(
                                *[F.lit(cents[k][i]) for i in range(DIM)]
                            ),
                        )
                    ).alias("nd"),
                    F.lit(k).cast("long").alias("g"),
                )
                for k in keys
            ]
        )
    )
    probes = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.array(
                *[dist_arr("v", s) for s in range(PQ_SUBSPACES)]
            ).alias("dtable"),
            F.posexplode(F.slice(ranked_cells, 1, max_probe)).alias(
                "pos", "rc"
            ),
        )
        .select(
            "query_id",
            "dtable",
            (F.col("pos") + 1).cast("int").alias("probe_rank"),
            F.col("rc.g").alias("cell"),
        )
    )
    lookups = [
        F.element_at(F.element_at("dtable", s + 1), F.col(f"code_{s}"))
        for s in range(PQ_SUBSPACES)
    ]
    adc = sum(lookups[1:], lookups[0])
    scored = codes.join(F.broadcast(probes), "cell").select(
        "query_id",
        "cand_id",
        "probe_rank",
        F.round(adc, 6).alias("adc_dist"),
    )
    exact = s01_cosine_topk(spark, sf_dir).select(
        F.col("query_id").alias("eq"),
        F.col("cand_id").alias("ec"),
    )
    tiers = None
    for np_ in PROBE_SWEEP:
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc_dist").asc(), F.col("cand_id").asc()
        )
        tier = (
            scored.filter(F.col("probe_rank") <= min(np_, max_probe))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
            .select(
                F.lit(np_).cast("int").alias("nprobe"),
                "query_id",
                "cand_id",
            )
        )
        tiers = tier if tiers is None else tiers.unionByName(tier)
    exactd = exact.select(
        "eq",
        "ec",
        F.explode(
            F.array(*[F.lit(np_).cast("int") for np_ in PROBE_SWEEP])
        ).alias("nprobe"),
    )
    tiers = tiers.withColumnRenamed("nprobe", "tn")
    hit = exactd.join(
        tiers,
        (F.col("nprobe") == F.col("tn"))
        & (F.col("eq") == F.col("query_id"))
        & (F.col("ec") == F.col("cand_id")),
        "left",
    )
    return (
        hit.groupBy("nprobe", "eq")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("cand_id").cast("long").alias("n_hit"),
        )
        .select(
            "nprobe",
            F.col("eq").alias("query_id"),
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias(
                "recall_at_k"
            ),
        )
        .orderBy("nprobe", "query_id")
    )


def _s17_sql() -> str:
    centv = "[" + ", ".join(f"m{i}" for i in range(DIM)) + "]"
    cand = _pq_cand_sql()
    adc_cases = []
    for s in range(PQ_SUBSPACES):
        lo = s * PQ_SUBDIM
        qsub = f"qv[{lo + 1}:{lo + PQ_SUBDIM}]"
        qcw = (
            "[" + ", ".join(f"sd.m{lo + i}" for i in range(PQ_SUBDIM)) + "]"
        )
        adc_cases.append(
            f"WHEN b.s = {s} THEN"
            f" list_dot_product({qsub}, {qsub})"
            f" - 2 * list_dot_product({qsub}, {qcw})"
            f" + list_dot_product({qcw}, {qcw})"
        )
    case = "CASE " + "\n           ".join(adc_cases) + " END"
    max_probe = max(PROBE_SWEEP)
    tier_blocks = "\nUNION ALL\n".join(
        f"""  SELECT {np_} AS nprobe, query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY adc_dist ASC, cand_id ASC) AS rk
    FROM scored WHERE probe_rank <= {np_}
  ) WHERE rk <= {TOP_K}"""
        for np_ in PROBE_SWEEP
    )
    nprobes = ", ".join(str(n) for n in PROBE_SWEEP)
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
{_train_cte_sql()},
centv AS (
  SELECT g, {centv} AS cv FROM seeds
),
corpus AS (
  SELECT vec_id, v FROM base WHERE vec_id >= {N_QUERIES}
),
assigned AS (
  SELECT vec_id, CAST(g AS BIGINT) AS cell
  FROM (
    SELECT b.vec_id, c.g,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                ORDER BY list_dot_product(b.v, c.cv) DESC, c.g ASC) AS rn
    FROM corpus b CROSS JOIN centv c
  ) WHERE rn = 1
),
cand AS (
{cand}
),
best AS (
  SELECT vec_id AS cand_id, s, g
  FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, g ASC) AS rn
    FROM cand
  )
  WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, qv, CAST(g AS BIGINT) AS cell,
         CAST(rn AS INTEGER) AS probe_rank
  FROM (
    SELECT b.vec_id, b.v AS qv, c.g,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                ORDER BY list_dot_product(b.v, c.cv) DESC, c.g ASC) AS rn
    FROM base b CROSS JOIN centv c
    WHERE b.vec_id < {N_QUERIES}
  ) WHERE rn <= {max_probe}
),
scored AS (
  SELECT q.query_id, b.cand_id, q.probe_rank,
         ROUND(list_sum(list({case} ORDER BY b.s)), 6) AS adc_dist
  FROM qprobe q
  JOIN assigned a ON a.cell = q.cell
  JOIN best b ON b.cand_id = a.vec_id
  JOIN seeds sd ON sd.g = b.g
  GROUP BY q.query_id, q.probe_rank, b.cand_id
),
tiers AS (
{tier_blocks}
),
exact AS ({S01_SQL}),
exactd AS (
  SELECT CAST(n.nprobe AS INTEGER) AS nprobe, e.query_id, e.cand_id
  FROM exact e
  CROSS JOIN (SELECT UNNEST([{nprobes}]) AS nprobe) n
)
SELECT e.nprobe, e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(t.cand_id) AS BIGINT) AS n_hit,
       ROUND(CAST(COUNT(t.cand_id) AS DOUBLE) / COUNT(*), 6)
         AS recall_at_k
FROM exactd e
LEFT JOIN tiers t ON t.nprobe = e.nprobe
                 AND t.query_id = e.query_id AND t.cand_id = e.cand_id
GROUP BY e.nprobe, e.query_id
ORDER BY e.nprobe, e.query_id
"""


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


def s16_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of the engine's two
    ANN legs — s03's hyperplane-LSH ranking and s14's IVF-PQ ranking:
    rrf(d) = Σ_r 1/(K + rank_r(d)) over the rankings that retrieved d.
    Fused top-3 per query, audited with an ``in_exact`` flag against
    s01's full-precision ground truth — the ensemble trick that lifts
    recall when two cheap indexes fail on DIFFERENT queries.

    Scale shape: both inputs are |queries|×k rank lists, so the fusion
    join/window is trivial next to the retrievals themselves; the two
    reciprocal terms add in fixed (lsh, ivfpq) order on both engines
    (the non-associative-FP lesson), and 1/(K+rk) divides DOUBLES
    explicitly — DuckDB's bare ``1.0`` literal is DECIMAL and divides
    at decimal scale."""
    a = s03_lsh_topk(spark, sf_dir).select(
        "query_id", "cand_id", F.col("rk").alias("rk_lsh")
    )
    b = s14_ivfpq_search(spark, sf_dir).select(
        "query_id", "cand_id", F.col("rk").alias("rk_ivfpq")
    )
    fused = a.join(b, ["query_id", "cand_id"], "full")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rk_lsh")),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rk_ivfpq")),
        F.lit(0.0),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("cand_id").asc()
    )
    top = (
        fused.select(
            "query_id", "cand_id", F.round(rrf, 6).alias("rrf")
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
    )
    exact = s01_cosine_topk(spark, sf_dir).select(
        F.col("query_id").alias("eq"),
        F.col("cand_id").alias("ec"),
        F.lit(True).alias("hit"),
    )
    return (
        top.join(
            exact,
            (F.col("query_id") == F.col("eq"))
            & (F.col("cand_id") == F.col("ec")),
            "left",
        )
        .select(
            "query_id",
            "cand_id",
            "rrf",
            "rk",
            F.coalesce("hit", F.lit(False)).alias("in_exact"),
        )
        .orderBy("query_id", "rk")
    )


def _s16_sql() -> str:
    inv = f"CAST(1 AS DOUBLE) / ({RRF_K} + {{rk}})"
    return f"""
WITH ann_lsh AS ({_s03_sql()}),
ann_ivfpq AS ({_s14_sql()}),
exact AS ({S01_SQL}),
fused AS (
  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         COALESCE(a.cand_id, b.cand_id) AS cand_id,
         COALESCE({inv.format(rk='a.rk')}, 0.0)
         + COALESCE({inv.format(rk='b.rk')}, 0.0) AS rrf
  FROM ann_lsh a
  FULL JOIN ann_ivfpq b
    ON b.query_id = a.query_id AND b.cand_id = a.cand_id
),
ranked AS (
  SELECT query_id, cand_id, ROUND(rrf, 6) AS rrf,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY ROUND(rrf, 6) DESC, cand_id ASC) AS BIGINT)
           AS rk
  FROM fused
)
SELECT r.query_id, r.cand_id, r.rrf, r.rk,
       COALESCE(e.query_id IS NOT NULL, FALSE) AS in_exact
FROM ranked r
LEFT JOIN exact e
  ON e.query_id = r.query_id AND e.cand_id = r.cand_id
WHERE r.rk <= {TOP_K}
ORDER BY r.query_id, r.rk
"""


CASCADE_D = 16  # stage-1 prefix width (an MRL_DIMS member, s15-audited)
CASCADE_C = 20  # stage-1 shortlist size per query


def s19_cascade_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage cascade retrieval: a CHEAP prefix-dim cosine pass
    (first CASCADE_D of DIM dims — the s15-audited Matryoshka prefix)
    shortlists CASCADE_C candidates per query, then the FULL-dim exact
    cosine reranks only that shortlist to top-k, flagged against the
    s01 ground truth. This is the standard retrieve-then-rerank
    production shape: the expensive scorer touches |q|×C rows, never
    the corpus.

    Scale shape: stage 1 is one corpus scan with the query side
    broadcast (at real scale it would itself be the s14 IVF-PQ probe —
    the cascade mechanics are identical); stage 2 is an equi-join of
    the ≤|q|×C-row shortlist (broadcast) against the corpus — hash
    probe on one scan, no corpus shuffle; the audit join is
    |q|×k-sized. Full-dim math runs on 200 rows where brute force
    would pay |corpus|×|q|."""
    base = _base(spark, sf_dir)
    sq = F.slice(F.col("v"), 1, CASCADE_D)
    q1 = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), sq.alias("qp")
    ).filter(dot("qp", F.col("qp")) > 0)
    c1 = base.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), sq.alias("cp")
    ).filter(dot("cp", F.col("cp")) > 0)
    pcos = F.round(
        dot("qp", F.col("cp"))
        / (F.sqrt(dot("qp", F.col("qp"))) * F.sqrt(dot("cp", F.col("cp")))),
        6,
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("pcos").desc(), F.col("cand_id").asc()
    )
    short = (
        F.broadcast(q1)
        .crossJoin(c1)
        .select("query_id", "cand_id", pcos.alias("pcos"))
        .withColumn("srk", F.row_number().over(w1))
        .filter(F.col("srk") <= CASCADE_C)
        .select("query_id", "cand_id")
    )
    qf = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("fq"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    cf = base.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("fc"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    rer = (
        F.broadcast(short)
        .join(cf, F.col("cand_id") == F.col("fc"))
        .join(F.broadcast(qf), F.col("query_id") == F.col("fq"))
        .select(
            "query_id",
            "cand_id",
            F.round(_cosine("qv", "cv", "qnorm", "cnorm"), 6).alias(
                "cosine"
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    topk = rer.withColumn("rk", F.row_number().over(w2).cast("long")).filter(
        F.col("rk") <= TOP_K
    )
    exact = s01_cosine_topk(spark, sf_dir).select(
        F.col("query_id").alias("eq"), F.col("cand_id").alias("ec")
    )
    return (
        topk.join(
            F.broadcast(exact),
            (F.col("query_id") == F.col("eq"))
            & (F.col("cand_id") == F.col("ec")),
            "left",
        )
        .select(
            "query_id",
            "rk",
            "cand_id",
            "cosine",
            F.when(F.col("ec").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("in_exact"),
        )
        .orderBy("query_id", "rk")
    )


def _s19_sql() -> str:
    d, c = CASCADE_D, CASCADE_C
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
shortlist AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY pcos DESC, cand_id ASC) AS srk
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             ROUND(list_dot_product(q.v[1:{d}], c.v[1:{d}])
                   / (SQRT(list_dot_product(q.v[1:{d}], q.v[1:{d}]))
                      * SQRT(list_dot_product(c.v[1:{d}], c.v[1:{d}]))),
                   6) AS pcos
      FROM base q, base c
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        AND list_dot_product(q.v[1:{d}], q.v[1:{d}]) > 0
        AND list_dot_product(c.v[1:{d}], c.v[1:{d}]) > 0
    )
  ) WHERE srk <= {c}
),
rerank AS (
  SELECT s.query_id, s.cand_id,
         ROUND(list_dot_product(q.v, c.v)
               / (SQRT(list_dot_product(q.v, q.v))
                  * SQRT(list_dot_product(c.v, c.v))), 6) AS cosine
  FROM shortlist s
  JOIN base q ON q.vec_id = s.query_id
  JOIN base c ON c.vec_id = s.cand_id
),
topk AS (
  SELECT query_id, cand_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, cand_id ASC) AS rk
  FROM rerank
),
exact AS ({S01_SQL})
SELECT t.query_id, CAST(t.rk AS BIGINT) AS rk, t.cand_id, t.cosine,
       CAST(CASE WHEN e.cand_id IS NOT NULL THEN 1 ELSE 0 END
            AS BIGINT) AS in_exact
FROM topk t
LEFT JOIN exact e
  ON e.query_id = t.query_id AND e.cand_id = t.cand_id
WHERE t.rk <= {TOP_K}
ORDER BY t.query_id, t.rk
"""


def s20_index_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-staleness / centroid-drift audit — the reindex decision:
    train the coarse IVF cells on the INDEXED snapshot only (even
    vec_ids — the data the index was built from), then assign BOTH
    halves and compare per-cell occupancy shares and inertia between
    the indexed members and the newly-arrived half (odd vec_ids). A
    large ``share_drift`` or a new-half inertia well above the indexed
    half's means the frozen centroids no longer describe the incoming
    distribution and the index needs re-training before probe-cost
    models go wrong.

    Scale shape: s11's exact audit machinery with a conditional split
    — snapshot-trained centroids broadcast as literals, distance
    arithmetic on the scan projection, ONE hash agg on the cell key
    with FILTER-style conditional aggregates, share totals as windows
    over the ≤K-row per-cell frame (p20's pattern — no second corpus
    scan)."""
    base = _base(spark, sf_dir)
    corpus = base.filter(F.col("vec_id") >= N_QUERIES)
    cents = _train_centroids(
        base, sf_dir, extra=F.col("vec_id") % 2 == 0, tag="even"
    )
    if not cents:
        return spark.createDataFrame(
            [],
            "cell long, n_indexed long, n_new long,"
            " share_indexed double, share_new double,"
            " share_drift double, mean_sqd_indexed double,"
            " mean_sqd_new double",
        )
    cnorm2 = {k: sum(x * x for x in cents[k]) for k in cents}
    with_dots = corpus.withColumn("_dots", _dots_array(cents))
    pos = _argmax_pos("_dots")
    cell = _pos_payload(cents, {k: k for k in cents}, pos).cast("long")
    best = F.array_max("_dots")
    cc2 = _pos_payload(cents, cnorm2, pos)
    sqd = dot("v", F.col("v")) - 2.0 * best + cc2
    assigned = with_dots.select(
        cell.alias("cell"),
        sqd.alias("sqd"),
        (F.col("vec_id") % 2 == 0).alias("idx"),
    )
    per_cell = assigned.groupBy("cell").agg(
        F.sum(F.col("idx").cast("long")).cast("long").alias("n_indexed"),
        F.sum((~F.col("idx")).cast("long")).cast("long").alias("n_new"),
        F.avg(F.when(F.col("idx"), F.col("sqd"))).alias("msi"),
        F.avg(F.when(~F.col("idx"), F.col("sqd"))).alias("msn"),
    )
    w_tiny = Window.partitionBy()
    t_idx = F.sum("n_indexed").over(w_tiny).cast("double")
    t_new = F.sum("n_new").over(w_tiny).cast("double")
    share_i = F.when(t_idx > 0, F.col("n_indexed") / t_idx)
    share_n = F.when(t_new > 0, F.col("n_new") / t_new)
    return (
        per_cell.select(
            "cell",
            "n_indexed",
            "n_new",
            F.round(share_i, 6).alias("share_indexed"),
            F.round(share_n, 6).alias("share_new"),
            F.round(
                F.coalesce(share_n, F.lit(0.0))
                - F.coalesce(share_i, F.lit(0.0)),
                6,
            ).alias("share_drift"),
            F.round("msi", 4).alias("mean_sqd_indexed"),
            F.round("msn", 4).alias("mean_sqd_new"),
        )
        .orderBy("cell")
    )


def _s20_sql() -> str:
    centv = "[" + ", ".join(f"m{i}" for i in range(DIM)) + "]"
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
{_train_cte_sql(extra_where=" AND vec_id % 2 = 0")},
centv AS (
  SELECT g, {centv} AS cv FROM seeds
),
dotted AS (
  SELECT b.vec_id, b.v, c.g, c.cv, list_dot_product(b.v, c.cv) AS d
  FROM base b CROSS JOIN centv c
  WHERE b.vec_id >= {N_QUERIES}
),
assigned AS (
  SELECT vec_id,
         CAST(g AS BIGINT) AS cell,
         list_dot_product(v, v) - 2 * d + list_dot_product(cv, cv) AS sqd,
         vec_id % 2 = 0 AS idx
  FROM (
    SELECT vec_id, v, g, cv, d,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d DESC, g ASC) AS rn
    FROM dotted
  )
  WHERE rn = 1
),
per_cell AS (
  SELECT cell,
         CAST(SUM(CASE WHEN idx THEN 1 ELSE 0 END) AS BIGINT)
           AS n_indexed,
         CAST(SUM(CASE WHEN idx THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
         AVG(CASE WHEN idx THEN sqd END) AS msi,
         AVG(CASE WHEN NOT idx THEN sqd END) AS msn
  FROM assigned
  GROUP BY cell
)
SELECT cell, n_indexed, n_new,
       ROUND(CASE WHEN SUM(n_indexed) OVER () > 0
             THEN CAST(n_indexed AS DOUBLE)
                  / CAST(SUM(n_indexed) OVER () AS DOUBLE) END, 6)
         AS share_indexed,
       ROUND(CASE WHEN SUM(n_new) OVER () > 0
             THEN CAST(n_new AS DOUBLE)
                  / CAST(SUM(n_new) OVER () AS DOUBLE) END, 6)
         AS share_new,
       ROUND(COALESCE(CASE WHEN SUM(n_new) OVER () > 0
               THEN CAST(n_new AS DOUBLE)
                    / CAST(SUM(n_new) OVER () AS DOUBLE) END, 0)
             - COALESCE(CASE WHEN SUM(n_indexed) OVER () > 0
               THEN CAST(n_indexed AS DOUBLE)
                    / CAST(SUM(n_indexed) OVER () AS DOUBLE) END, 0),
             6) AS share_drift,
       ROUND(msi, 4) AS mean_sqd_indexed,
       ROUND(msn, 4) AS mean_sqd_new
FROM per_cell
ORDER BY cell
"""


N_TENANTS = 10  # label universe; query q's tenant filter is q % N_TENANTS


def s21_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search — the multi-tenant / RAG shape
    where every query carries a predicate (here: ``label = query_id %
    N_TENANTS``, the tenant id) and top-k must come from the filtered
    subset only. The production failure mode this audits: POST-
    filtering an unfiltered ANN result starves selective tenants (k
    survivors of the filter may be far fewer than k). Here the filter
    is applied IN the candidate join instead: the IVF probe join is a
    two-key equi-join on (cell, label), so each query only ever scores
    its own tenant's rows inside its probed cells, and the audit
    reports per query how many candidates that left (``n_cands``) and
    the recall@k against filtered-exact ground truth.

    Scale shape: the corpus is assigned cells once (broadcast-literal
    centroids in the scan projection, s05's plan) and met on a
    (cell, label) equi-join — at 100 TB, partitioning the stored index
    by (cell, label-bucket) makes the probe touch only the tenant's
    slice of the probed cells; no per-pair work happens outside the
    filtered candidate set. Ground truth is the s01 broadcast-queries
    plan against the label-filtered corpus (an equi-join on label, not
    a cross join). Tenants with no corpus rows drop out on both
    engines; candidates are a subset of the filtered universe, so the
    exact side is never empty when the ANN side found rows."""
    em = valid_embeddings(table(spark, sf_dir, "embeddings"), DIM)
    vec_d = to_double_vec("embedding")
    base = em.select(
        "vec_id",
        "label",
        vec_d.alias("v"),
        l2_norm(vec_d).alias("norm"),
    )
    cents = _train_centroids(base, sf_dir)
    if not cents:
        return spark.createDataFrame(
            [],
            "query_id long, target_label int, n_cands long,"
            " n_exact long, n_hit long, recall_at_k double",
        )
    tagged = _assign_cell_df(base, cents)
    corpus = tagged.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "cell",
    )
    # query probes: the shared nprobe cell selection + the tenant
    # label, exploded to one row per probed cell
    q = base.filter(F.col("vec_id") < N_QUERIES).withColumn(
        "_cd", _dots_array(cents)
    )
    q, probe_cells = _probe_cell_cols(q, cents)
    probes = q.select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") % N_TENANTS).cast("int").alias("target_label"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.explode(F.array(*probe_cells)).alias("pcell"),
    )
    scored = corpus.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("pcell"))
        & (F.col("clabel") == F.col("target_label")),
    ).select(
        "query_id",
        "target_label",
        "cand_id",
        F.round(_cosine("qv", "cv", "qnorm", "cnorm"), 6).alias("cosine"),
    )
    cands = scored.groupBy("query_id", "target_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_cands")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    ann = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(F.col("query_id").alias("aq"), F.col("cand_id").alias("ac"))
    )
    # filtered-exact ground truth: label equi-join, broadcast queries
    qf = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") % N_TENANTS).cast("int").alias("target_label"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    cf = base.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    escored = F.broadcast(qf).join(
        cf, F.col("target_label") == F.col("clabel")
    ).select(
        "query_id",
        "target_label",
        "cand_id",
        F.round(_cosine("qv", "cv", "qnorm", "cnorm"), 6).alias("cosine"),
    )
    exact = (
        escored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "target_label", "cand_id")
    )
    hit = exact.join(
        ann,
        (F.col("query_id") == F.col("aq"))
        & (F.col("cand_id") == F.col("ac")),
        "left",
    )
    rec = hit.groupBy("query_id", "target_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.count("ac").cast("long").alias("n_hit"),
    )
    return (
        rec.join(cands, ["query_id", "target_label"], "left")
        .select(
            "query_id",
            "target_label",
            F.coalesce(F.col("n_cands"), F.lit(0)).cast("long")
            .alias("n_cands"),
            "n_exact",
            "n_hit",
            F.round(
                F.col("n_hit") / F.col("n_exact").cast("double"), 6
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def _s21_sql() -> str:
    centv = "[" + ", ".join(f"m{i}" for i in range(DIM)) + "]"
    cos = (
        "ROUND(list_dot_product({q}, {c})"
        " / (SQRT(list_dot_product({q}, {q}))"
        " * SQRT(list_dot_product({c}, {c}))), 6)"
    )
    return f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
{_train_cte_sql()},
centv AS (
  SELECT g, {centv} AS cv FROM seeds
),
corpus AS (
  SELECT vec_id, label, v FROM base WHERE vec_id >= {N_QUERIES}
),
assigned AS (
  SELECT vec_id, label, v, CAST(g AS BIGINT) AS cell
  FROM (
    SELECT b.vec_id, b.label, b.v, c.g,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
             list_dot_product(b.v, c.cv) DESC, c.g ASC) AS rn
    FROM corpus b CROSS JOIN centv c
  ) WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id,
         CAST(vec_id % {N_TENANTS} AS INTEGER) AS target_label,
         qv, CAST(g AS BIGINT) AS cell
  FROM (
    SELECT b.vec_id, b.v AS qv, c.g,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
             list_dot_product(b.v, c.cv) DESC, c.g ASC) AS rn
    FROM base b CROSS JOIN centv c
    WHERE b.vec_id < {N_QUERIES}
  ) WHERE rn <= {N_PROBE}
),
scored AS (
  SELECT q.query_id, q.target_label, a.vec_id AS cand_id,
         {cos.format(q="q.qv", c="a.v")} AS cosine
  FROM qprobe q
  JOIN assigned a ON a.cell = q.cell AND a.label = q.target_label
),
cands AS (
  SELECT query_id, target_label,
         CAST(COUNT(*) AS BIGINT) AS n_cands
  FROM scored GROUP BY query_id, target_label
),
ann AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, cand_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {TOP_K}
),
escored AS (
  SELECT q.vec_id AS query_id,
         CAST(q.vec_id % {N_TENANTS} AS INTEGER) AS target_label,
         c.vec_id AS cand_id,
         {cos.format(q="q.v", c="c.v")} AS cosine
  FROM base q
  JOIN corpus c ON c.label = CAST(q.vec_id % {N_TENANTS} AS INTEGER)
  WHERE q.vec_id < {N_QUERIES}
),
exact AS (
  SELECT query_id, target_label, cand_id FROM (
    SELECT query_id, target_label, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, cand_id ASC) AS rk
    FROM escored
  ) WHERE rk <= {TOP_K}
),
rec AS (
  SELECT e.query_id, e.target_label,
         CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(COUNT(a.cand_id) AS BIGINT) AS n_hit
  FROM exact e
  LEFT JOIN ann a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
  GROUP BY e.query_id, e.target_label
)
SELECT r.query_id, r.target_label,
       CAST(COALESCE(c.n_cands, 0) AS BIGINT) AS n_cands,
       r.n_exact, r.n_hit,
       ROUND(CAST(r.n_hit AS DOUBLE) / r.n_exact, 6) AS recall_at_k
FROM rec r
LEFT JOIN cands c
  ON c.query_id = r.query_id AND c.target_label = r.target_label
ORDER BY r.query_id
"""


S22_SEED_MOD = 20  # seeds: vec_id % 20 == 0
S22_MAX_HOPS = 3  # bounded BFS depth


def s22_khop_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-hop neighbourhood expansion over the s09 kNN graph —
    the graph-traversal step behind retrieval augmentation ("expand
    the shortlist through the semantic neighbourhood"), seed-set
    contamination spread, and cluster probing: from each seed vector
    (deterministic vec_id % S22_SEED_MOD set), follow the directed
    kNN edges up to S22_MAX_HOPS and report every reached node with
    its BFS level (min #hops; the seed itself is hop 0).

    This is the BOUNDED-recursion capability (DuckDB: WITH RECURSIVE;
    Spark has no recursive CTE): a fixed depth unrolls into ONE
    declarative DAG of per-hop equi-joins — frontier ⋈ edges on the
    node id, then an anti-join against the already-reached set so a
    node joins the frontier only at its first (= minimal) level.
    Level-order expansion makes min-hop exact without a MIN aggregate.
    Contrast d07/m08's connected components, where the UNBOUNDED
    diameter forces a convergence-checked driver loop.

    Scale shape: per-hop cost is |frontier|·K_GRAPH candidate rows
    through hash equi-joins — never a cartesian, never the corpus;
    reached/frontier carry (seed, node, hop) longs only. At
    production scale the s09 edge index is materialized once and
    reused across expansions (the streamed-ANN-index posture);
    expansion itself is output-bounded: ≤ |seeds|·K^hops rows.

    Materialization: the edge list is cut ONCE via iter_materialize
    (the s10/d07 per-round pattern — localCheckpoint, or a reliable
    checkpoint when a checkpoint dir is set; a deployment reads the
    persisted s09 index instead), and each hop's new-frontier is cut too:
    hop h's anti-join references the whole reached set, whose lineage
    otherwise re-expands the s09 plane self-join once per prior hop —
    measured 3.2× super-linear at 10× data before, because the graph
    CONSTRUCTION (not the expansion) was being recomputed ~7×. The
    edge list now comes from the session-scoped :func:`knn_graph`
    substrate (already lineage-cut), so even the one-time build is
    shared with s10/s18/s24."""
    edges = knn_graph(spark, sf_dir).select("src_id", "nbr_id")
    seeds = _base(spark, sf_dir).filter(
        F.col("vec_id") % S22_SEED_MOD == 0
    )
    reached = seeds.select(
        F.col("vec_id").alias("seed_id"),
        F.col("vec_id").alias("node_id"),
        F.lit(0).cast("long").alias("hops"),
    )
    frontier = reached
    for h in range(1, S22_MAX_HOPS + 1):
        step = (
            frontier.join(
                edges, frontier["node_id"] == edges["src_id"]
            )
            .select(
                "seed_id",
                F.col("nbr_id").alias("node_id"),
                F.lit(h).cast("long").alias("hops"),
            )
            .distinct()
        )
        new = iter_materialize(
            step.join(reached, ["seed_id", "node_id"], "left_anti")
        )
        reached = reached.unionByName(new)
        frontier = new
    return reached.orderBy("seed_id", "hops", "node_id")


def _s22_sql() -> str:
    s09 = _s09_sql().strip()
    return f"""
WITH RECURSIVE edges AS (
  SELECT src_id, nbr_id FROM ({s09})
),
nodes AS (
  SELECT vec_id FROM embeddings WHERE {valid_emb_sql(DIM)}
),
reach(seed_id, node_id, hops) AS (
  SELECT vec_id, vec_id, 0 FROM nodes
  WHERE vec_id % {S22_SEED_MOD} = 0
  UNION
  SELECT r.seed_id, e.nbr_id, r.hops + 1
  FROM reach r
  JOIN edges e ON e.src_id = r.node_id
  WHERE r.hops < {S22_MAX_HOPS}
)
SELECT seed_id, node_id, CAST(MIN(hops) AS BIGINT) AS hops
FROM reach
GROUP BY seed_id, node_id
ORDER BY seed_id, hops, node_id
"""


S23_SEEDS = 64  # phase-A seed set: highest-norm vectors, scored exactly


def s23_mips_norm_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximum-inner-product search (MIPS) with Cauchy-Schwarz
    norm pruning — the recommendation/reranking score (a raw dot
    product, where vector MAGNITUDE matters) that cosine ops like s01
    deliberately normalize away. Exact, but never brute-force: since
    dot(q, x) ≤ ‖q‖·‖x‖, a candidate whose norm bound can't beat the
    current k-th best is provably not in the top-k.

    Two phases: (A) the S23_SEEDS highest-norm vectors are scored
    exactly against every query — their k-th best dot is the query's
    admission threshold T_q (the seed achieving it has bound ≥ T_q, so
    the true top-k is always admitted); (B) the corpus streams through
    the per-query cheap bound test ‖q‖·‖x‖ ≥ T_q and only survivors
    pay the 64-dim dot. Output: per-query top-k by dot plus the
    admitted-candidate count — the pruning-power read.

    All comparisons (seed order, thresholds, admission, rank) use
    1e-6-rounded values on both engines; rounding is monotone, so the
    bound stays a bound after quantization. A serial numpy reference
    pins exactness against unpruned brute force.

    Scale shape: phase A is a TakeOrderedAndProject (top-64 by norm,
    no global sort) cross-scored against the broadcast 10-row query
    set; phase B is ONE corpus scan with a 10-way broadcast bound
    filter in the scan — the expensive dot runs on admitted rows only,
    and nothing about the corpus ever shuffles (the s01 posture, minus
    the wasted dots). The threshold tightens as seeds improve — a
    deployment would seed from an ANN shortlist (s03/s14) instead of
    top-norms for an even smaller admitted set."""
    base = _base(spark, sf_dir)
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    c = base.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    seeds = c.orderBy(
        F.round(F.col("cnorm"), 6).desc(), F.col("cand_id").asc()
    ).limit(S23_SEEDS)
    seed_scores = F.broadcast(q).crossJoin(F.broadcast(seeds)).select(
        "query_id",
        "cand_id",
        F.round(dot("qv", "cv"), 6).alias("s"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("cand_id").asc()
    )
    thr = (
        seed_scores.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == TOP_K)
        .select("query_id", F.col("s").alias("thr"))
    )
    qt = q.join(thr, "query_id")  # N_QUERIES rows
    admitted = c.crossJoin(F.broadcast(qt)).filter(
        F.round(F.col("cnorm") * F.col("qnorm"), 6) >= F.col("thr")
    )
    scored = admitted.select(
        "query_id",
        "cand_id",
        F.round(dot("qv", "cv"), 6).alias("dot"),
    )
    wq = Window.partitionBy("query_id")
    wr = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn(
            "n_cands", F.count(F.lit(1)).over(wq).cast("long")
        )
        .withColumn("rk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "cand_id", "dot", "rk", "n_cands")
        .orderBy("query_id", "rk")
    )


S23_SQL = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
normed AS (
  SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS norm FROM base
),
q AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
  FROM normed WHERE vec_id < {N_QUERIES}
),
c AS (
  SELECT vec_id AS cand_id, v AS cv, norm AS cnorm
  FROM normed WHERE vec_id >= {N_QUERIES}
),
seeds AS (
  SELECT * FROM c
  ORDER BY ROUND(cnorm, 6) DESC, cand_id ASC LIMIT {S23_SEEDS}
),
seed_scores AS (
  SELECT q.query_id, s.cand_id,
         ROUND(list_dot_product(q.qv, s.cv), 6) AS s
  FROM q CROSS JOIN seeds s
),
thr AS (
  SELECT query_id, s AS thr FROM (
    SELECT query_id, s,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s DESC, cand_id ASC) AS rk
    FROM seed_scores
  ) WHERE rk = {TOP_K}
),
qt AS (
  SELECT q.query_id, q.qv, q.qnorm, t.thr
  FROM q JOIN thr t ON t.query_id = q.query_id
),
admitted AS (
  SELECT qt.query_id, c.cand_id,
         ROUND(list_dot_product(qt.qv, c.cv), 6) AS dot
  FROM c CROSS JOIN qt
  WHERE ROUND(c.cnorm * qt.qnorm, 6) >= qt.thr
),
ranked AS (
  SELECT query_id, cand_id, dot,
         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT)
           AS n_cands,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY dot DESC, cand_id ASC)
              AS BIGINT) AS rk
  FROM admitted
)
SELECT query_id, cand_id, dot, rk, n_cands
FROM ranked WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


# --- s25: radius (range) search with exact-recall audit ------------------

RADIUS_TAU = 0.3  # admit cosine >= tau (cf. the top-k family's rank cut)


def s25_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius / range search — the ANN API member top-k does not
    cover: ALL corpus vectors within cosine ≥ τ of each query
    ("every candidate at least this similar"), not a fixed count.
    Dedup admission, contamination screens, and recommendation
    cutoffs are radius queries; their result size is data-dependent,
    which is exactly what this audits: per query, the LSH-bucketed
    hit count next to the exact ground-truth hit count and the
    recall ratio (ANN hits are a subset of exact hits by
    construction — same cosine, candidates ⊆ corpus).

    Scale shape: the ANN leg is s05's trained-IVF cell equi-join
    (candidates = the query's own coarse cell; hyperplane LSH is the
    WRONG index here — at τ = 0.3 a 7-plane bucket collision needs
    all 7 signs to agree, ~0.6⁷ ≈ 3%, measured ~0 recall, while the
    inner-product cell keeps moderate-similarity neighbours together)
    with the rank window REPLACED by a stateless threshold filter — a
    radius query needs no per-query sort at all, so it is strictly
    cheaper than top-k at the same candidate set. nprobe=1 for the
    audit; s17's probe-recall curve is the knob that buys more. The
    exact leg (broadcast queries × corpus scan) is the audit's ground
    truth — the piece a deployment samples rather than runs in
    full."""
    base = _base(spark, sf_dir)
    cents = _train_centroids(base, sf_dir)
    if not cents:
        return spark.createDataFrame(
            [],
            "query_id long, n_hits_ann long, n_hits_exact long,"
            " radius_recall double",
        )
    tagged = _assign_cell_df(base, cents)
    q = tagged.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "cell",
    )
    c = tagged.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "cell",
    )
    cos = F.round(_cosine("qv", "cv", "qnorm", "cnorm"), 6)
    ann = (
        F.broadcast(q).join(c, "cell")
        .filter(cos >= F.lit(RADIUS_TAU))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits_ann"))
    )
    qx = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    cx = base.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    exact = (
        F.broadcast(qx).crossJoin(cx)
        .filter(cos >= F.lit(RADIUS_TAU))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits_exact"))
    )
    n_ann = F.coalesce(F.col("n_hits_ann"), F.lit(0)).cast("long")
    n_ex = F.coalesce(F.col("n_hits_exact"), F.lit(0)).cast("long")
    recall = F.when(n_ex == 0, F.lit(1.0)).otherwise(
        n_ann.cast("double") / n_ex.cast("double")
    )
    return (
        qx.select("query_id")
        .join(ann, "query_id", "left")
        .join(exact, "query_id", "left")
        .select(
            "query_id",
            n_ann.alias("n_hits_ann"),
            n_ex.alias("n_hits_exact"),
            F.round(recall, 6).alias("radius_recall"),
        )
        .orderBy("query_id")
    )


def _s25_sql() -> str:
    centv = "[" + ", ".join(f"m{i}" for i in range(DIM)) + "]"
    cos = (
        "ROUND(list_dot_product(q.v, c.v)"
        " / (SQRT(list_dot_product(q.v, q.v))"
        " * SQRT(list_dot_product(c.v, c.v))), 6)"
    )
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {valid_emb_sql(DIM)}
),
{_train_cte_sql()},
centv AS (
  SELECT g, {centv} AS cv FROM seeds
),
dotted AS (
  SELECT b.vec_id, b.v, c.g, list_dot_product(b.v, c.cv) AS d
  FROM base b CROSS JOIN centv c
),
assigned AS (
  SELECT vec_id, v, CAST(g AS BIGINT) AS cell
  FROM (
    SELECT vec_id, v, g,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d DESC, g ASC) AS rn
    FROM dotted
  )
  WHERE rn = 1
),
ann AS (
  SELECT q.vec_id AS query_id, COUNT(*) AS n_hits_ann
  FROM assigned q
  JOIN assigned c ON q.cell = c.cell
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    AND {cos} >= {RADIUS_TAU}
  GROUP BY q.vec_id
),
exact AS (
  SELECT q.vec_id AS query_id, COUNT(*) AS n_hits_exact
  FROM base q
  CROSS JOIN base c
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    AND {cos} >= {RADIUS_TAU}
  GROUP BY q.vec_id
)
SELECT b.vec_id AS query_id,
       CAST(COALESCE(a.n_hits_ann, 0) AS BIGINT) AS n_hits_ann,
       CAST(COALESCE(x.n_hits_exact, 0) AS BIGINT) AS n_hits_exact,
       ROUND(CASE WHEN COALESCE(x.n_hits_exact, 0) = 0 THEN 1.0
             ELSE CAST(COALESCE(a.n_hits_ann, 0) AS DOUBLE)
                  / x.n_hits_exact END, 6) AS radius_recall
FROM base b
LEFT JOIN ann a ON a.query_id = b.vec_id
LEFT JOIN exact x ON x.query_id = b.vec_id
WHERE b.vec_id < {N_QUERIES}
ORDER BY query_id
"""


# --- s24: triangle counting / clustering coefficient ---------------------


def s24_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the s09
    kNN graph — the graph-statistics member the family lacked next to
    s10 (centrality) and s22 (traversal): per node, its undirected
    degree, the number of triangles through it, and
    2T / (deg·(deg−1)). High clustering = tight semantic communities
    (near-dup neighbourhoods); low = hub-and-spoke noise.

    The algorithm is the degree-ordered ORIENTATION count (the
    MapReduce-era standard for exactly this reason): canonicalize
    edges undirected, orient each from its (deg, id)-smaller endpoint,
    join oriented out-neighbour lists on the pivot, and close each
    wedge against the canonical edge set. Every triangle is counted
    exactly once — at its unique (deg, id)-minimal vertex — and the
    wedge join's cost is Σ out-deg², which degree-ordering provably
    bounds by O(E^1.5) REGARDLESS of skew: a hub of degree d keeps
    out-degree ≤ ~√E because its edges orient INTO it. A naive
    (unoriented) wedge join pays Σ deg² — quadratic in the hub degree
    — which is why orientation, not the 3-way join, is the 100 TB
    shape. All joins are hash equi-joins on node ids.
    """
    g = knn_graph(spark, sf_dir)
    edges = g.select(
        F.least("src_id", "nbr_id").alias("u"),
        F.greatest("src_id", "nbr_id").alias("w"),
    ).distinct()
    # Materialize the canonical edge list ONCE (round-13 measurement:
    # triangle_stats consumes `edges` four ways — deg's two-way union,
    # the orientation join, and the wedge close — and Catalyst reuses
    # none of their differing projections, so the s09 subtree (bucket
    # self-join + cosine + top-k window) re-executed per consumer: the
    # sf0.1 plan held 52 parquet scans / 106 exchanges. The edge list
    # is (long, long) rows — the same per-round cut d07/s10 already
    # make (iter_materialize: localCheckpoint, or a reliable
    # checkpoint when a checkpoint dir is set). Plan after: 10 scans / 17 exchanges,
    # wall 2.39 s → 0.66 s at sf0.1.
    edges = iter_materialize(edges)
    return triangle_stats(edges)


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + clustering coefficient over a
    canonical undirected edge frame (columns ``u < w``, distinct) —
    the degree-ordered wedge-join core of s24, factored out so the
    algorithm is testable on crafted graph shapes (star: hub of any
    degree, zero triangles, zero wedge blowup; clique: C(n,3)) in
    addition to the s09 kNN graph."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    e = edges.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(
        deg.select(F.col("node").alias("w"), F.col("deg").alias("dw")), "w"
    )
    # orient from the (deg, id)-smaller endpoint; u < w by id already,
    # so on a degree tie u is the (deg, id)-min — `du <= dw` suffices
    fwd = F.col("du") <= F.col("dw")
    oriented = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("w")).alias("lo"),
        F.when(fwd, F.col("w")).otherwise(F.col("u")).alias("hi"),
    )
    a = oriented.alias("a")
    b = oriented.alias("b")
    tri = (
        a.join(
            b,
            (F.col("a.lo") == F.col("b.lo"))
            & (F.col("a.hi") < F.col("b.hi")),
        )
        .select(
            F.col("a.lo").alias("lo"),
            F.col("a.hi").alias("h1"),
            F.col("b.hi").alias("h2"),
        )
        # close the wedge: (h1, h2) is id-ordered, matching the
        # canonical edge layout exactly
        .join(
            edges,
            (F.col("h1") == F.col("u")) & (F.col("h2") == F.col("w")),
        )
        .select("lo", "h1", "h2")
    )
    per_node = (
        tri.select(F.explode(F.array("lo", "h1", "h2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0)).cast("long")
    cc = F.when(
        F.col("deg") >= 2,
        F.lit(2.0) * n_tri / (F.col("deg") * (F.col("deg") - 1)),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "deg",
            n_tri.alias("n_tri"),
            F.round(cc, 6).alias("clustering"),
        )
        .orderBy("node")
    )


def _s24_sql() -> str:
    return f"""
WITH s09 AS (
{_s09_sql()}
),
edges AS (
  SELECT DISTINCT LEAST(src_id, nbr_id) AS u,
                  GREATEST(src_id, nbr_id) AS w
  FROM s09
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT u AS node FROM edges
        UNION ALL SELECT w AS node FROM edges)
  GROUP BY node
),
oriented AS (
  SELECT CASE WHEN du.deg <= dw.deg THEN e.u ELSE e.w END AS lo,
         CASE WHEN du.deg <= dw.deg THEN e.w ELSE e.u END AS hi
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dw ON dw.node = e.w
),
tri AS (
  SELECT a.lo, a.hi AS h1, b.hi AS h2
  FROM oriented a
  JOIN oriented b ON a.lo = b.lo AND a.hi < b.hi
  JOIN edges e ON e.u = a.hi AND e.w = b.hi
),
per_node AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
  FROM (SELECT lo AS node FROM tri
        UNION ALL SELECT h1 AS node FROM tri
        UNION ALL SELECT h2 AS node FROM tri)
  GROUP BY node
)
SELECT d.node, d.deg,
       CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_tri,
       ROUND(CASE WHEN d.deg >= 2
                  THEN CAST(2 AS DOUBLE) * COALESCE(p.n_tri, 0)
                       / (d.deg * (d.deg - 1))
                  ELSE 0.0 END, 6) AS clustering
FROM deg d
LEFT JOIN per_node p ON p.node = d.node
ORDER BY d.node
"""


QUERIES = [
    Query("s01_cosine_topk", s01_cosine_topk, S01_SQL,
          "exact brute-force cosine top-k"),
    Query("s02_lsh_buckets", s02_lsh_buckets, _s02_sql(),
          "hyperplane-LSH bucket assignment"),
    Query("s03_lsh_topk", s03_lsh_topk, _s03_sql(),
          "LSH-bucketed ANN + exact re-rank"),
    Query("s04_ivf_topk", s04_ivf_topk, _s04_sql(),
          "IVF-cell ANN + exact re-rank"),
    Query("s05_trained_ivf", s05_trained_ivf, _s05_sql(),
          "IVF with trained (data-dependent) centroids"),
    Query("s06_quantize", s06_quantize, S06_SQL,
          "symmetric int8 quantization + reconstruction audit"),
    Query("s07_knn_label", s07_knn_label, S07_SQL,
          "k-NN majority-vote label prediction (label propagation)"),
    Query("s08_ann_recall", s08_ann_recall, _s08_sql(),
          "recall@k evaluation: LSH ANN vs exact ground truth"),
    Query("s09_knn_graph", s09_knn_graph, _s09_sql(),
          "all-corpus kNN graph via LSH bucket self-join "
          "(both-sides-large ANN)"),
    Query("s10_pagerank", s10_pagerank, _s10_sql(),
          "PageRank over the kNN similarity graph (fixed power "
          "iterations as join+agg dataflow)"),
    Query("d15_semdedup", d15_semdedup, _d15_sql(),
          "SemDeDup: bucket-blocked semantic prune audit (pessimistic "
          "smaller-id admission, no iteration)"),
    Query("s11_cluster_quality", s11_cluster_quality, _s11_sql(),
          "IVF index-health audit: occupancy share + inertia per "
          "trained cell"),
    Query("s12_product_quantize", s12_product_quantize, _s12_sql(),
          "product quantization: per-subspace codebook assignment + "
          "reconstruction audit (IVF-PQ storage half)"),
    Query("s13_pq_adc_topk", s13_pq_adc_topk, _s13_sql(),
          "PQ asymmetric-distance top-k: queries score the CODED "
          "corpus via codeword lookup sums (IVF-PQ query half)"),
    Query("s14_ivfpq_search", s14_ivfpq_search, _s14_sql(),
          "full IVF-PQ: Lloyd coarse cells + nprobe cell probe + ADC "
          "over PQ codes of the probed subset only"),
    Query("s15_mrl_truncation_recall", s15_mrl_truncation_recall,
          _s15_sql(),
          "Matryoshka truncation audit: per-query recall@k of "
          "prefix-dim search vs full-dim exact ground truth"),
    Query("s16_rrf_fusion", s16_rrf_fusion, _s16_sql(),
          "reciprocal-rank fusion of the LSH and IVF-PQ rankings, "
          "audited against exact ground truth"),
    Query("s17_probe_recall_sweep", s17_probe_recall_sweep,
          _s17_sql(),
          "IVF-PQ nprobe tuning curve: recall@k vs probed-cell count "
          "over one scored candidate frame"),
    Query("s18_knn_label_eval", s18_knn_label_eval, _s18_sql(),
          "label-propagation confusion matrix over the kNN graph "
          "(majority vote vs true label, s07's tie rule)"),
    Query("s19_cascade_rerank", s19_cascade_rerank, _s19_sql(),
          "two-stage cascade retrieval: Matryoshka-prefix shortlist "
          "then full-dim rerank of |q|*C rows, flagged vs exact"),
    Query("s20_index_staleness", s20_index_staleness, _s20_sql(),
          "index-staleness audit: snapshot-trained cells vs "
          "newly-arrived half — per-cell occupancy drift + inertia"),
    Query("s21_filtered_search", s21_filtered_search, _s21_sql(),
          "metadata-filtered ANN: per-query tenant label applied IN "
          "the (cell, label) probe join, recall vs filtered-exact"),
    Query("s22_khop_expansion", s22_khop_expansion, _s22_sql(),
          "bounded k-hop BFS over the kNN graph: fixed-depth "
          "recursion unrolled into per-hop equi-joins + anti-join "
          "(WITH RECURSIVE oracle), min-hop levels from seeds"),
    Query("s23_mips_norm_pruned", s23_mips_norm_pruned, S23_SQL,
          "exact MIPS top-k with Cauchy-Schwarz norm pruning: "
          "seed-set threshold, cheap bound filter in the scan, dots "
          "on admitted rows only (+ pruning-power count)"),
    Query("s24_triangle_count", s24_triangle_count, _s24_sql(),
          "triangle count + local clustering coefficient over the "
          "kNN graph (degree-ordered orientation bounds the wedge "
          "join at O(E^1.5) under any skew)"),
    Query("s25_radius_search", s25_radius_search, _s25_sql(),
          "radius (range) search: all vectors within cosine >= tau "
          "per query via the trained-IVF cell probe join — no "
          "per-query sort — audited against exact ground-truth hit "
          "counts"),
]

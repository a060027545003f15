"""Salted-join correctness: result must equal the plain join exactly,
with the key's rows spread across salt sub-partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka2clickhouse_py_streamer_spark.functions.skew import (
    SALT_COL,
    explode_small_side,
    salt_large_side,
    salted_join,
)
from kafka2clickhouse_py_streamer_spark.operators.base import table


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")

    plain = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("rev"),
        )
    )
    salted = (
        salted_join(li, p, li.l_partkey == p.p_partkey, salt_n=4)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("rev"),
        )
    )
    a = {r.p_brand: (r.n, r.rev) for r in plain.collect()}
    b = {r.p_brand: (r.n, r.rev) for r in salted.collect()}
    assert a == b


def test_salt_spreads_hot_key(spark):
    # one hot key repeated 1000×: salts must spread it over all buckets
    hot = spark.range(1000).select(
        F.lit(42).alias("k"), F.col("id").alias("row_id")
    )
    salted = salt_large_side(hot, ["k", "row_id"], 8)
    n_buckets = salted.select(SALT_COL).distinct().count()
    assert n_buckets == 8


def test_salt_is_deterministic(spark):
    df = spark.range(100).select(F.col("id").alias("k"))
    s1 = {r.k: r[SALT_COL] for r in salt_large_side(df, ["k"], 8).collect()}
    s2 = {r.k: r[SALT_COL] for r in salt_large_side(df, ["k"], 8).collect()}
    assert s1 == s2  # replay-stable under retries


def test_small_side_replication(spark):
    df = spark.range(5)
    assert explode_small_side(df, 4).count() == 20


# ---- connected components (functions/graph.py) ----------------------


def _chain_edges(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )


def test_star_contraction_chain_round_count(spark):
    """The measured payoff over one-hop propagation: a 256-node chain
    (diameter 255) must contract in a handful of rounds, where one-hop
    min-label propagation needs 255 — the exact shape (serial crawl
    snapshots) that made the old loop the engine's one super-linear
    path."""
    from kafka2clickhouse_py_streamer_spark.functions.graph import (
        connected_components,
    )

    # measured: 9 rounds (~log2(255) + the fixed-point confirmation
    # round); one-hop needs 255
    labels, rounds = connected_components(_chain_edges(spark, 256))
    assert rounds <= 10, f"chain-256 took {rounds} rounds"
    got = {(r.doc_id, r.cluster_id) for r in labels.collect()}
    assert got == {(i, 0) for i in range(256)}


def test_star_contraction_mixed_components(spark):
    """Several components of different shapes in one edge set: a chain,
    a triangle, a star keyed off its LARGEST id, and a 2-cycle — each
    node must label to its component minimum, nothing leaks across."""
    from kafka2clickhouse_py_streamer_spark.functions.graph import (
        connected_components,
    )

    edges = [
        # chain 10-11-12-13
        (10, 11), (11, 12), (12, 13),
        # triangle 20-21-22 (duplicate edge + reversed direction)
        (20, 21), (21, 22), (22, 20), (21, 20),
        # star centered on the LARGEST id 39
        (39, 30), (39, 31), (39, 32),
        # pair with a self-loop thrown in
        (40, 41), (40, 40),
    ]
    labels, _ = connected_components(
        spark.createDataFrame(edges, "u long, v long")
    )
    got = {(r.doc_id, r.cluster_id) for r in labels.collect()}
    want = (
        {(i, 10) for i in (10, 11, 12, 13)}
        | {(i, 20) for i in (20, 21, 22)}
        | {(i, 30) for i in (39, 30, 31, 32)}
        | {(i, 40) for i in (40, 41)}
    )
    assert got == want


def test_star_contraction_empty_graph(spark):
    from kafka2clickhouse_py_streamer_spark.functions.graph import (
        connected_components,
    )

    labels, rounds = connected_components(
        spark.createDataFrame([], "u long, v long")
    )
    assert rounds == 0 and labels.count() == 0


def test_star_contraction_matches_union_find_property(spark):
    """Property check: on pseudo-random graphs the distributed star
    contraction must agree exactly with a driver-side union-find.
    Deterministic seed sweep (not hypothesis: each example pays a
    Spark job, and a fixed sweep keeps CI time bounded while covering
    sparse, dense, and self-loop-heavy shapes)."""
    import random

    from kafka2clickhouse_py_streamer_spark.functions.graph import (
        connected_components,
    )

    for seed, n_nodes, n_edges in [(1, 30, 15), (2, 40, 60), (3, 25, 80)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        touched = {u for e in edges for u in e if e[0] != e[1]}
        want = {
            (x, min(y for y in range(n_nodes) if find(y) == find(x)))
            for x in touched
        }
        labels, _ = connected_components(
            spark.createDataFrame(edges, "u long, v long")
        )
        got = {(r.doc_id, r.cluster_id) for r in labels.collect()}
        # nodes appearing ONLY in self-loops surface with their own id
        only_self = {u for u, v in edges if u == v} - touched
        got = {p for p in got if p[0] not in only_self}
        assert got == want, f"seed {seed}"


def test_star_steps_window_form_matches_join_form(spark):
    """Round-14 internals change: the per-star minimum inside
    _large_star/_small_star is a window over the star key instead of
    a groupBy + join-back. The two forms must produce the SAME SET of
    canonical pairs on every adversarial shape (hub keyed off its
    largest id, chain, duplicate/reversed edges, self-loops) — the
    window emits the parent pointer once per keyed row, and only the
    terminal distinct makes that equivalent."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.functions.graph import (
        _large_star,
        _small_star,
    )

    def large_ref(edges):
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_ref(edges):
        keyed = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        mins = keyed.groupBy("u").agg(F.min("v").alias("m"))
        moved = keyed.join(mins, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        pointed = mins.select("u", F.col("m").alias("v"))
        return (
            moved.union(pointed)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    shapes = [
        [(i, i + 1) for i in range(12)],                      # chain
        [(39, 30), (39, 31), (39, 32), (39, 39)],             # big-id hub
        [(20, 21), (21, 22), (22, 20), (21, 20), (5, 5)],     # tri + loop
        [(1, 2), (2, 1), (3, 4), (4, 3), (2, 3)],             # reversed dups
    ]
    for shape in shapes:
        e = spark.createDataFrame(shape, "u long, v long")
        for new, ref in ((_large_star, large_ref), (_small_star, small_ref)):
            got = {(r.u, r.v) for r in new(e).collect()}
            want = {(r.u, r.v) for r in ref(e).collect()}
            assert got == want, (new.__name__, shape)


def test_iter_materialize_reliable_mode_agrees(spark, tmp_path):
    """A SparkContext checkpoint dir swaps every per-round
    localCheckpoint for a fault-tolerant checkpoint (the 100 TB
    deployment setting: executor loss re-reads instead of killing an
    hours-long CC job). Labels, round counts, and the checkpoint-dir
    side effect must all hold, and results must equal local mode
    bit-for-bit."""
    import os

    from kafka2clickhouse_py_streamer_spark.functions.graph import (
        connected_components,
    )

    def files_under(d):
        return [
            os.path.join(dp, f) for dp, _dn, fn in os.walk(d) for f in fn
        ]

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local_labels, local_rounds = connected_components(
        _chain_edges(spark, 64)
    )
    local = {(r.doc_id, r.cluster_id) for r in local_labels.collect()}

    try:
        sc.setCheckpointDir(str(tmp_path / "ck"))
        labels, rounds = connected_components(_chain_edges(spark, 64))
        got = {(r.doc_id, r.cluster_id) for r in labels.collect()}
        assert got == local == {(i, 0) for i in range(64)}
        assert rounds == local_rounds
        # the reliable copies really landed in the configured directory
        assert files_under(tmp_path / "ck"), (
            "reliable mode wrote no checkpoint files"
        )

        # r7 advice: a mid-session change of the checkpoint dir must
        # take effect (the cut reads the context's current dir)
        sc.setCheckpointDir(str(tmp_path / "ck2"))
        labels2, _ = connected_components(_chain_edges(spark, 32))
        assert {(r.doc_id, r.cluster_id) for r in labels2.collect()} == {
            (i, 0) for i in range(32)
        }
        assert files_under(tmp_path / "ck2"), (
            "changed checkpoint dir was ignored"
        )
    finally:
        # PySpark has no public unset; clear the Scala-side Option so
        # the rest of the session keeps cutting locally
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
    assert sc.getCheckpointDir() is None

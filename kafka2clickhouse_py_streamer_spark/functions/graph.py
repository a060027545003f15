"""Distributed connected components: large-star/small-star contraction.

Implements the alternating star operations from Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SoCC 2014) — the
standard public algorithm for CC at data-parallel scale. Each round is
a constant number of equi-join + partial-agg shuffles over the CURRENT
edge set, and the alternation contracts paths multiplicatively, so a
component of diameter d converges in O(log d)-ish rounds instead of the
O(d) rounds of one-hop min-label propagation (d07's round-3 loop). On a
100 TB corpus whose near-dup graph contains a long chain — serial crawl
snapshots, boilerplate drift — one-hop propagation is the one
super-linear loop left in the engine; star contraction removes it.

Edge-set invariants (proved in the paper): both operations preserve
connectivity, never increase the number of edges, and the fixed point
is a forest of stars — every non-minimum node points directly at its
component's minimum.

Only structure crosses the wire: (long, long) edge pairs. The caller
keeps document bodies out of the graph (d07 feeds SimHash pair ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def iter_materialize(df: DataFrame, defer: bool = False) -> DataFrame:
    """Per-round materialization for ITERATIVE algorithms (star
    contraction, k-hop frontiers, edge-list reuse). Iteration genuinely
    needs lineage TRUNCATION — a lineage-retaining persist would let
    the plan snowball across rounds, the exact problem checkpointing
    exists to solve — so the choice is only WHERE the cut copy lives,
    and Spark's own checkpoint dir decides it:

    - no checkpoint dir (the local default): ``localCheckpoint`` —
      executor-local blocks, fastest, the single-node form. On a real
      cluster an executor loss kills the job (no lineage left to
      recompute from).
    - a checkpoint dir set (``spark.checkpoint.dir`` or
      ``SparkContext.setCheckpointDir``; point it at HDFS/S3 on a
      cluster): a reliable ``checkpoint`` there — per-round writes
      cost more, but node loss re-reads instead of killing a
      multi-hour CC job. This is the 100 TB deployment setting.

    ``defer=True`` marks the cut but lets the CALLER's next full-scan
    action materialize it (local cuts only): the CC loop counts every
    round's edge set anyway, so an eager materialization job followed
    by a count job is one fixed-cost job too many — at ~100 ms/job
    fixed on small rounds the loop cost was dominated by job count,
    not data (r10 profile). Reliable cuts stay eager: a lazily-
    checkpointed reliable cut recomputes the plan a second time to
    write the checkpoint files, which is the worse trade there.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=not defer)


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    m = min(N(u) ∪ {u}). Long "tails" hanging off small ids collapse
    toward the minimum in one pass.

    The per-node minimum is a WINDOW over the star key, not a
    groupBy + join-back (round-14; the d14 rewrite applied to the CC
    loop): the join form shuffled the symmetric edge set twice per
    round (once reduced for the agg, once full for the join) and paid
    a per-round hash join; the window moves it once and reads the min
    in place. Same task-placement under skew — a hub's edges all land
    on one task either way (that is what keying on the node means)."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Key each edge on its LARGER endpoint u; connect u and all its
    smaller neighbors to m = min of those neighbors. Produces
    (child > parent) canonical pairs — the star shape the fixed point
    settles into.

    Window form (round-14, see _large_star): the parent pointer
    (u, m) is emitted once per keyed row instead of once per u — the
    terminal ``distinct`` already collapses duplicates, so the SET is
    unchanged while the groupBy + join-back disappears."""
    keyed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    km = keyed.withColumn(
        "m", F.min("v").over(Window.partitionBy("u"))
    )
    moved = km.select(F.col("v").alias("u"), F.col("m").alias("v"))
    pointed = km.select("u", F.col("m").alias("v"))
    return (
        moved.union(pointed)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, max_iters: int = 20
) -> tuple[DataFrame, int]:
    """Labels for every node that appears in ``edges``.

    ``edges`` must have two long columns ``u``/``v`` (any direction,
    self-loops ignored). Returns ``(labels, rounds)`` where labels has
    ``doc_id``/``cluster_id`` = the component's minimum node id, and
    rounds is the number of large+small alternations taken. Raises if
    the fixed point is not reached within ``max_iters`` — silent
    truncation would hand partial clusters downstream.

    Convergence is the honest fixed-point check (canonical edge sets
    equal via ``exceptAll``), not a checksum: one extra digest-sized
    shuffle per round, and rounds are logarithmic. Each round is cut
    through :func:`iter_materialize` so plans don't snowball
    (``localCheckpoint`` by default; a reliable ``checkpoint`` when
    the SparkContext has a checkpoint dir, as a cluster sets).
    """
    # Job-count discipline (r10): each round runs ONE full-scan job —
    # a count() that doubles as the deferred localCheckpoint's
    # materializer — plus the exceptAll equality probe only when the
    # counts tie. The previous eager-materialize-then-count shape paid
    # two fixed-cost jobs per round and recounted the prior round's
    # edge set, tripling the per-round job count; on small graphs the
    # loop is job-overhead-bound, not data-bound.
    #
    # The INPUT edge plan is cut exactly once (e0): callers hand in
    # expensive pair-generation DAGs (m08's phash chain, d07's SimHash
    # bands), and deriving ``nodes`` and the initial star from the raw
    # plan re-ran that whole DAG once per consumer (r10 profile: the
    # m07 chain dominated m08, computed ~3x).
    # e0 is EAGER: _small_star scans it twice in one job, and a
    # deferred cut materialized by racing consumer stages duplicates
    # the caller's heavy DAG. The loop cuts below stay deferred —
    # each round's count() is their single consumer.
    e0 = iter_materialize(edges.select("u", "v"))
    # ``nodes`` keeps its own DEFERRED cut: on a dense pair graph the
    # union+distinct over e0 is a |2·edges|-row shuffle, and the
    # labels frame is consumed by many downstream queries (the cached
    # d07 labels feed d08/d13/d21/d22/d23), each of which would re-run
    # that shuffle without the cut (r10: 89M-edge graph, ~37 s per
    # consumer). Deferred is safe — the final labels join references
    # nodes exactly once, so the first caller action materializes it
    # without a stage race.
    nodes = iter_materialize(
        e0.select(F.col("u").alias("doc_id"))
        .union(e0.select(F.col("v").alias("doc_id")))
        .distinct(),
        defer=True,
    )
    cur = iter_materialize(_small_star(e0), defer=True)
    n_cur = cur.count()  # materializes e0 AND the cut; 0 = edgeless
    rounds = 0
    converged = n_cur == 0
    while not converged and rounds < max_iters:
        nxt = iter_materialize(_small_star(_large_star(cur)), defer=True)
        rounds += 1
        n_nxt = nxt.count()
        # star fixed point: both canonical sets distinct, so equality
        # == same count + empty difference (one direction suffices)
        converged = n_nxt == n_cur and nxt.exceptAll(cur).isEmpty()
        cur, n_cur = nxt, n_nxt
    if not converged:
        raise RuntimeError(
            "connected_components: star contraction did not reach its "
            f"fixed point within max_iters={max_iters} rounds"
        )
    parents = cur.groupBy(F.col("u").alias("doc_id")).agg(
        F.min("v").alias("cluster_id")
    )
    labels = nodes.join(parents, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    return labels, rounds
